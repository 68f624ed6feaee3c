"""Similarity search over the ``embeddings`` table (SURVEY.md §2.11
X3; BASELINE.json north-star: ANN over an array<float> column).

Two tiers, mirroring how a production pipeline scales:

 - ``similarity_topk``: brute-force cosine top-k — the exact
   baseline. The query set is broadcast; the big side streams once;
   per-partition top-k via window. Cost O(|Q|·N) but one scan, no
   shuffle of the corpus (the window partitions by query id, so the
   shuffle is |Q|·N rows of (id, id, score) — the scored pairs, not
   the vectors).
 - ``similarity_ivf_topk``: IVF-style two-stage search — assign all
   vectors to their nearest centroid (broadcast centroids), probe
   only the ``NPROBE`` nearest centroid buckets per query. At 100 TB
   this turns O(|Q|·N) into O(|Q|·N/k·nprobe) and the bucket
   assignment is a narrow map. Centroids are TRAINED with
   ``KMEANS_ITERS`` Lloyd iterations (``_kmeans_centroids``), seeded
   from vec_id < NCENTROIDS; fixed-point accumulation makes the
   distributed means order-independent and bit-identical to the
   DuckDB oracle's sequential ones.

All arithmetic is higher-order array functions (zip_with/aggregate)
— strict left folds, JVM-side, which both stays in codegen and makes
results bit-reproducible against the DuckDB oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_eamples_spark.artifacts import (
    corpus_fingerprint,
    load_or_build,
    session_cached,
)
from dbt_eamples_spark.catalog import load_table

N_QUERIES = 10  # query set: vec_id < 10
TOP_K = 5
NCENTROIDS = 8
# 3 of 8 cells per query: measured top-5 recall 0.86 at nprobe=2 →
# 0.92 at 3 on the near-uniform fixture (the nprobe/k ratio is the
# recall dial; production tunes it per corpus clusteredness)
NPROBE = 3
KMEANS_ITERS = 2  # Lloyd rounds for IVF centroid training


def _as_double_vec(col):
    return F.transform(col, lambda x: x.cast("double"))


from functools import lru_cache as _lru_cache  # noqa: E402


@_lru_cache(maxsize=None)
def _dlit_array(vals: tuple):
    """Literal double array as ONE parsed expression. Building it as
    ``F.array(*[F.lit(x) ...])`` costs len(vals) py4j round-trips —
    at 64-dim planes/codebooks that was ~2.3 s of pure driver-side
    query CONSTRUCTION per LSH call (the r3→r4 lsh_topk bench
    regression's real cause; execution was flat). The ``D``-suffixed
    SQL double literal parses to the bit-identical IEEE value as
    ``F.lit`` (round-trip repr), and the Column is immutable so the
    cache makes repeat builds free."""
    return F.expr(
        "array(" + ", ".join(f"{v!r}D" for v in vals) + ")"
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Two-phase top-k per query_id.

    Phase 1 reduces each input partition to its local top-k per
    query (groupBy on (query_id, partition-id) aggregates map-side —
    no full-width shuffle), phase 2 ranks the surviving
    |Q|·partitions·k rows with the exact window. Equivalent to a
    single window (ties fully broken by neighbor_id) but avoids
    funneling |Q|·N scored rows into |Q| window tasks at scale.
    """
    local = (
        scored.withColumn("_pid", F.spark_partition_id())
        .groupBy("query_id", "_pid")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct(F.col("cosine"), F.col("neighbor_id"))),
                    # descending cosine, ascending neighbor_id on ties
                    lambda a, b: F.when(a.cosine > b.cosine, -1)
                    .when(a.cosine < b.cosine, 1)
                    .when(a.neighbor_id < b.neighbor_id, -1)
                    .when(a.neighbor_id > b.neighbor_id, 1)
                    .otherwise(0),
                ),
                1,
                k,
            ).alias("top")
        )
        .select("query_id", F.explode_outer("top").alias("t"))
        .select("query_id", F.col("t.neighbor_id").alias("neighbor_id"),
                F.col("t.cosine").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        local.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: for each query vector (vec_id <
    N_QUERIES), the TOP_K nearest other vectors."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", _as_double_vec(F.col("embedding")).alias("vec")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    scored = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(_cosine(F.col("qvec"), F.col("vec")), 6).alias("cosine"),
        )
    )
    return _topk(scored, TOP_K)


def _kmeans_centroids(emb: DataFrame, ncells: int = NCENTROIDS) -> DataFrame:
    """KMEANS_ITERS rounds of Lloyd's algorithm over the corpus:
    assign every vector to its max-cosine centroid (broadcast
    centroids, one narrow pass), then recompute each centroid as the
    per-dimension mean of its members.

    The mean uses FIXED-POINT accumulation: each coordinate is
    rounded to 1e-6 and summed as a BIGINT. Integer addition is
    associative and commutative, so the distributed sum is
    order-independent — the same mean regardless of partitioning,
    run-to-run, and engine-to-engine (a plain double `avg` depends
    on summation order, which Spark does not fix and DuckDB would
    not reproduce; that non-determinism is why round 1 shipped a
    seed-subset stand-in instead of trained centroids). Per
    iteration: one broadcast assign pass + one (cent, dim) groupBy
    whose output is NCENTROIDS×EMBED_DIM rows — trivially
    broadcastable model state, checkpointed so iteration k doesn't
    replay k-1. Centroids that lose all members drop out, in both
    engines identically."""
    cent = emb.filter(F.col("vec_id") < ncells).select(
        F.col("vec_id").alias("cent_id"), F.col("vec").alias("cvec")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cent_id"))
    for _ in range(KMEANS_ITERS):
        assigned = (
            emb.join(F.broadcast(cent), how="cross")
            .select(
                "vec_id",
                "vec",
                "cent_id",
                _cosine(F.col("vec"), F.col("cvec")).alias("cos"),
            )
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("cent_id", "vec")
        )
        dims = assigned.select(
            "cent_id", F.posexplode("vec").alias("pos", "x")
        )
        mean = (F.col("sx").cast("double") / F.col("n")) / F.lit(1_000_000.0)
        cent = (
            dims.groupBy("cent_id", "pos")
            .agg(
                F.sum(
                    F.round(F.col("x") * F.lit(1_000_000.0)).cast("long")
                ).alias("sx"),
                F.count("*").alias("n"),
            )
            .select("cent_id", "pos", mean.alias("m"))
            .groupBy("cent_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s.m,
                ).alias("cvec")
            )
            .localCheckpoint(eager=True)
        )
    return cent


def _cent_vals(cent: DataFrame) -> list:
    """[(cent_id, (c0, ..., c63)), ...] sorted by cent_id, collected
    from a bounded centroid frame (≤ ncells rows — model state)."""
    return sorted(
        (int(r[0]), tuple(float(x) for x in r[1]))
        for r in cent.select("cent_id", "cvec").collect()
    )


def _ivf_quantizer(
    spark: SparkSession, sf_dir: str, emb: DataFrame, ncells: int
) -> list:
    """Centroid values of the session's IVF quantizer over
    ``sf_dir``, trained on ``emb`` on first use. An IVF index is
    BUILT once and searched many times, so queries must not pay the
    training cost per call; the assignment/probe consume centroids
    as literal arrays (see _nearest_cells), so the entry holds the
    collected values — bounded model state, the same class as the PQ
    codebooks. Keyed on no tables (train-once/add-many): vectors
    appended to ``embeddings`` join the frozen cells and never
    retrain them."""
    return session_cached(
        spark, sf_dir, (), f"ivf_quantizer/{ncells}",
        lambda _fp: _cent_vals(_kmeans_centroids(emb, ncells)),
    )


def _nearest_cells(vec_col, cents: list, n: int, with_cvec: bool = False):
    """The n nearest centroids of ``vec_col`` under the exact
    (cosine DESC, cent_id ASC) total order, as ONE narrow literal
    expression — an array of cent_ids (or of (cent_id, cvec) structs
    with ``with_cvec``), replacing the r1–r14 cross-join +
    row_number-window shape (guide §2.4: the window's corpus×ncells
    exchange and sort are removable — nearest-centroid is a per-row
    function of broadcastable model state, so it should cost a map,
    not a shuffle).

    Value identity: ``array_sort`` over struct(−cosine, cent_id)
    ranks by the identical total order the window used — negating a
    double reverses Spark's total order exactly (±0.0 included; the
    r14 MMR argument), cent_id breaks ties, and the cosine fold vs a
    ``_dlit_array`` literal is bit-identical to the fold vs the
    broadcast centroid row. Plan-size note: each centroid adds one
    64-double literal + one cosine fold, fine for ≤ a few hundred
    cells; a production ncells past that keeps the broadcast-join
    form (the 33 MB broadcast ceiling documented at ivf_cells).

    Two per-row cost notes, measured on the first cut of this
    rewrite (in-run 1.25–1.42× REGRESSIONS before these fixes):
    (a) the centroid-literal norm is an unfoldable HOF aggregate, so
    Spark re-folded each centroid's 64-term norm per row — it is
    precomputed here in Python with the IDENTICAL left fold
    (acc + x*x over IEEE doubles, correctly-rounded sqrt), so the
    runtime expression multiplies by a bit-identical literal;
    (b) consumers MUST route this expression through a Generate
    (explode/inline), never element_at — an inner-join key built
    from it otherwise gets an `isnotnull(<whole argmin>)` filter
    pushed into the scan, evaluating the expression twice per row
    (the guide §4.4 duplication, expression flavor);
    (c) the Column is built as ONE cached SQL-text parse, not
    nested HOF builders — the _dot_plane_sql lesson: the py4j
    lambda machinery cost ~0.4 s of driver-side query CONSTRUCTION
    per call (measured: construct+analyze 0.79 s of ivf_topk's
    0.82 s planning), which min-of-3 cannot amortize because every
    run re-plans."""
    if not isinstance(vec_col, str):
        raise TypeError("_nearest_cells takes a column NAME")
    key = (
        vec_col,
        tuple((cid, tuple(cv)) for cid, cv in cents),
        n,
        with_cvec,
    )
    return _nearest_cells_expr(key)


@_lru_cache(maxsize=None)
def _nearest_cells_expr(key: tuple):
    import math

    vec, cents, n, with_cvec = key
    structs = []
    for cid, cv in cents:
        acc = 0.0
        for x in cv:
            acc += x * x  # the exact _norm left fold, driver-side
        arr_sql = "array(" + ", ".join(f"{v!r}D" for v in cv) + ")"
        dot = (
            f"aggregate(zip_with({vec}, {arr_sql}, (x, y) -> x * y), "
            f"0.0D, (acc, x) -> acc + x)"
        )
        nrm_v = f"sqrt(aggregate({vec}, 0.0D, (acc, x) -> acc + x * x))"
        nc = f"-({dot} / ({nrm_v} * {math.sqrt(acc)!r}D))"
        fields = f"'nc', {nc}, 'cent_id', CAST({cid} AS BIGINT)"
        if with_cvec:
            fields += f", 'cv', {arr_sql}"
        structs.append(f"named_struct({fields})")
    arr = "array_sort(array(" + ", ".join(structs) + "))"
    sliced = f"slice({arr}, 1, {n})" if n < len(cents) else arr
    if with_cvec:
        body = (
            f"transform({sliced}, s -> named_struct("
            f"'cent_id', s.cent_id, 'cv', s.cv))"
        )
    else:
        body = f"transform({sliced}, s -> s.cent_id)"
    return F.expr(body)


def similarity_ivf_topk(
    spark: SparkSession, sf_dir: str, *, ncells: int | None = None
) -> DataFrame:
    """IVF-bucketed top-k: train centroids (k-means, cached per
    session+corpus) → assign → probe NPROBE buckets → rank.

    Only vectors whose centroid is among the query's NPROBE nearest
    centroids are scored — the recall/cost dial of a real IVF index.
    Centroids are trained with :func:`_kmeans_centroids` (fixed-point
    Lloyd iterations, bit-identical in the DuckDB oracle); the build
    runs once per (session, corpus) like any real vector index.
    ``ncells`` defaults to the pinned fixture constant (static
    oracle); production sizes it with :func:`ivf_cells` (√n rule).
    """
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", _as_double_vec(F.col("embedding")).alias("vec")
    )
    cents = _ivf_quantizer(spark, sf_dir, emb, ncells or NCENTROIDS)

    # nearest-centroid assignment for every vector: a NARROW literal
    # argmin (r15, guide §2.4 — the old cross-join + row_number
    # window shuffled corpus×ncells rows and sorted them to pick a
    # per-row function of bounded model state; see _nearest_cells
    # for the total-order identity argument)
    assigned = emb.select(
        "vec_id",
        "vec",
        F.explode(
            _nearest_cells("vec", cents, 1)
        ).alias("bucket"),  # Generate, not element_at — see helper
    )

    # per-query probe list: NPROBE nearest centroids, same narrow form
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    probes = q.select(
        "query_id",
        "qvec",
        F.explode(
            _nearest_cells("qvec", cents, NPROBE)
        ).alias("bucket"),
    )

    # search only the probed buckets
    scored = (
        assigned.join(F.broadcast(probes), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(_cosine(F.col("qvec"), F.col("vec")), 6).alias("cosine"),
        )
    )
    return _topk(scored, TOP_K)


def similarity_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched brute-force cosine top-k via ``mapInPandas`` —
    the Python-vectorized scale path, for when scoring must call
    into numpy/torch (a learned reranker, a quantized index).

    The query matrix (|Q|×d, tiny) ships to every task as a Spark
    broadcast; each Arrow batch of corpus vectors becomes one numpy
    (batch×d) @ (d×|Q|) matmul, and each task emits only its local
    top-k per query — |tasks|·|Q|·k rows reach the exact final
    window, never the full |Q|·N scored set. Same two-phase shape as
    :func:`similarity_topk`.

    Driver check is rows-only (no SQL oracle): numpy's pairwise
    summation orders float adds differently from the strict left
    fold the JVM/DuckDB versions share, so low-order bits — and thus
    the 6 dp rounding — can differ by design. Value correctness is
    carried by the exact twin ``similarity_topk``.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", "embedding"
    )
    qrows = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .orderBy("vec_id")
        .collect()
    )  # |Q|×d floats — the one legitimate driver-side collect
    qids = np.array([r["vec_id"] for r in qrows])
    qmat = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    qmat /= np.linalg.norm(qmat, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((qids, qmat))

    def score(batches):
        bqids, bqmat = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            vids = pdf["vec_id"].to_numpy()
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            cos = mat @ bqmat.T  # (batch × |Q|)
            out = []
            for qi, qid in enumerate(bqids):
                col = cos[:, qi]
                mask = vids != qid  # exclude self
                nb_all = vids[mask]
                # Local cut uses the SAME total order as the global
                # window — (6 dp-rounded cosine DESC, neighbor_id
                # ASC) — so a 6 dp tie straddling a batch's local
                # top-k boundary cannot drop the member the global
                # order keeps (ADVICE r13: the unrounded/untied cut
                # could diverge from the JVM twin nondeterministically
                # with Arrow batch layout). Caveat (ADVICE r14):
                # np.round is round-half-to-even while F.round is
                # HALF_UP, so the claim holds only when the two modes
                # agree — i.e. unless a cosine lands EXACTLY on a
                # 5e-7 binary boundary, which the hash-gated
                # similarity_topk_audit would surface.
                rounded = np.round(col[mask], 6)
                order = np.lexsort((nb_all, -rounded))[:TOP_K]
                nb = nb_all[order]
                sc = rounded[order]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": nb,
                            "cosine": sc,
                        }
                    )
                )
            if out:
                yield pd.concat(out)

    scored = emb.mapInPandas(
        score, schema="query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


def similarity_topk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-gate for the Arrow top-k path (VERDICT r12 #4 — the
    ``agg_trend_slope_audit`` pattern applied to its last
    similarity-family holdout): ``similarity_topk_pandas`` is
    rows-only at the driver by policy (no SQL oracle can run
    mapInPandas), but its equality to the JVM twin is checkable
    inside the engine. Both shortlists round cosine to 6 dp before
    the shared (cosine DESC, neighbor_id ASC) total-order window, so
    the (query_id, neighbor_id, cosine, rk) sets are engine-exact
    comparable. This one-row companion full-outer-joins the two
    paths on (query_id, neighbor_id), counts null-safe (cosine, rk)
    mismatches plus one-sided rows, and emits the match bit
    alongside SQL-expressible aggregates of the JVM side (query
    count, pair count, neighbor-id checksum, a 1e6 fixed-point
    cosine checksum — exact, the cosines are pre-rounded). The
    oracle recomputes the aggregates from its own similarity_topk
    recipe and expects ``pandas_matches_jvm`` TRUE — an Arrow drift
    (dtype change, BLAS summation divergence crossing a 6 dp
    boundary, top-k cut disagreement) flips the bit and fails the
    value hash, upgrading the Python path from rows-only to
    value-gated. The comparison is distributed (one count
    aggregate); only one scalar reaches the driver."""
    jvm = similarity_topk(spark, sf_dir).localCheckpoint(eager=True)
    pdf = similarity_topk_pandas(spark, sf_dir)
    j = jvm.select(
        "query_id",
        "neighbor_id",
        F.col("cosine").alias("c_j"),
        F.col("rk").alias("r_j"),
    )
    p = pdf.select(
        "query_id",
        "neighbor_id",
        F.col("cosine").alias("c_p"),
        F.col("rk").alias("r_p"),
    )
    cmp_row = (
        j.join(p, ["query_id", "neighbor_id"], "full_outer")
        .agg(
            # coalesce: on an empty corpus the outer join aggregates
            # zero rows and SUM returns NULL — vacuous equality must
            # still report a match (ADVICE r13 low).
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("c_j").eqNullSafe(F.col("c_p"))
                        & F.col("r_j").eqNullSafe(F.col("r_p")),
                        0,
                    ).otherwise(1)
                ),
                F.lit(0),
            ).alias("n_mismatch")
        )
        .collect()[0]
    )
    matches = bool(cmp_row["n_mismatch"] == 0)
    return jvm.agg(
        F.countDistinct("query_id").cast("long").alias("n_queries"),
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("neighbor_id").cast("long").alias("neighbor_checksum"),
        F.sum(
            F.round(F.col("cosine") * 1e6).cast("long")
        ).cast("long").alias("cosine_checksum_fp"),
    ).select(
        "n_queries",
        "n_pairs",
        "neighbor_checksum",
        "cosine_checksum_fp",
        F.lit(matches).alias("pandas_matches_jvm"),
    )


# --- random-hyperplane LSH (the second ANN scale path) ---------------------
# L hash tables × NPLANES sign bits each. Planes are deterministic
# pseudo-random weights derived from md5("t:p:d") — generated here as
# literal constants so Spark, DuckDB, and this module agree exactly;
# swapping in learned planes changes numbers, not the plan.
LSH_TABLES = 4
LSH_PLANES = 4
EMBED_DIM = 64
# dedup_embedding_cosine uses more tables (recall compounds per
# table: at cos 0.95 a 4-plane table collides w.p. 0.65, so 8
# tables ≈ 99.98% recall); planes stay at 4 for the fixture's 500
# vectors — at scale NPLANES grows as log2(N / target_bucket_size)
# so bucket count tracks corpus size
DEDUP_LSH_TABLES = 8
# multi-probe (Lv et al., VLDB'07): besides its base bucket, a probe
# also visits the buckets reached by flipping the k sign bits whose
# hyperplane margin |dot| is smallest — the bits most likely to
# differ for a true near neighbor. Probing is one-sided (query side
# for top-k, one join side for dedup), so the corpus index stays at
# L keys/vector while recall rises as if L were ~(flips+1)× larger.
LSH_PROBE_FLIPS = 2
# dedup probes one flip only: its flips multiply SELF-join fan-out
# (quadratic in bucket occupancy), unlike the query-side topk probes
# (linear in |Q|); 1 flip already lifts fixture pair recall 0.746 →
# 0.966 while keeping candidate volume ~2/3 of the 2-flip cost
DEDUP_PROBE_FLIPS = 1


def lsh_planes(n_rows: int, target_bucket: int = 64) -> int:
    """Production operating point for the sign-bit count: enough
    planes that expected bucket occupancy ≈ ``target_bucket``
    (buckets = 2^planes ≈ n/target), so candidate volume per table
    stays ~n·target/2 instead of saturating toward all-pairs the way
    a pinned plane count does when the corpus outgrows it (the
    round-3 fixture pathology: 4 planes over 2 k vectors ⇒ 77% of
    all pairs were candidates; the round-5 10× spot-check measured
    exponent 1.57 for the pinned default). Computed in PURE INTEGER
    arithmetic — smallest p with target·2^p ≥ n — identical to
    ceil(log2(n/target)) but immune to the 1-ulp log2 divergence a
    float form could hit cross-engine (the oracle replicates this
    ladder in SQL). Floor = the fixture constant; cap 24 bits keeps
    the bucket id a small int and recall per table meaningful."""
    tb = max(1, target_bucket)
    p = LSH_PLANES
    while (tb << p) < n_rows and p < 24:
        p += 1
    return p


def ivf_cells(n_rows: int) -> int:
    """Production IVF cell count: the standard √n rule (FAISS
    guidance) — cells ≈ √n balances assign cost (n·cells dots) against
    probe cost (n/cells per cell). Floor = fixture NCENTROIDS so the
    static oracle stays the default; cap keeps the centroid table
    broadcastable (65536 × 64 doubles ≈ 33 MB ceiling)."""
    import math

    return max(NCENTROIDS, min(65536, int(math.isqrt(max(1, n_rows)))))


def _lsh_weight(t: int, p: int, d: int) -> float:
    import hashlib

    h = int(hashlib.md5(f"{t}:{p}:{d}".encode()).hexdigest()[:15], 16)
    return (h % 2001 - 1000) / 1000.0


from functools import lru_cache  # noqa: E402


@lru_cache(maxsize=None)
def _plane(t: int, p: int) -> tuple[float, ...]:
    """Deterministic pseudo-random hyperplane (t, p) — cached so any
    (tables, nplanes) operating point shares one weight source; the
    fixture default planes are bit-identical to the pre-round-4
    LSH_PLANE_WEIGHTS table, keeping every oracle static."""
    return tuple(_lsh_weight(t, p, d) for d in range(EMBED_DIM))


# fixture-operating-point view of the plane source (oracle SQL
# generation renders these exact literals into DuckDB expressions)
LSH_PLANE_WEIGHTS = [
    [list(_plane(t, p)) for p in range(LSH_PLANES)]
    for t in range(max(LSH_TABLES, DEDUP_LSH_TABLES))
]


@_lru_cache(maxsize=None)
def _plane_arr_sql(t: int, p: int) -> str:
    return "array(" + ", ".join(f"{v!r}D" for v in _plane(t, p)) + ")"


def _dot_plane_sql(vec: str, t: int, p: int) -> str:
    """The _dot fold against plane (t, p) as SQL text — parses to
    the identical ArrayAggregate/ZipWith tree as the HOF builders,
    but in ONE py4j call instead of ~8 per lambda (the lambda
    machinery was most of the residual driver-side build time)."""
    return (
        f"aggregate(zip_with({vec}, {_plane_arr_sql(t, p)}, "
        f"(x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
    )


def _lsh_bucket(vec_col, t: int, nplanes: int = LSH_PLANES):
    """Bucket id for hash table t: integer of ``nplanes`` sign bits
    of the vector's dot products with the table's planes. The plane
    arrays are literals, so each dot is one zip_with/aggregate over
    a constant — no joins, no per-row hashing. Pass the vector as a
    column NAME to build the whole bucket as one parsed expression
    (the fast path; a Column operand falls back to the HOF build)."""
    if isinstance(vec_col, str):
        bits = " + ".join(
            f"(CASE WHEN {_dot_plane_sql(vec_col, t, p)} >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
            for p in range(nplanes)
        )
        return F.expr(f"(0 + {bits})")
    bucket = F.lit(0)
    for p in range(nplanes):
        w = _plane_lit(t, p)
        bit = F.when(_dot(vec_col, w) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket


def _plane_lit(t: int, p: int):
    return _dlit_array(_plane(t, p))


def with_lsh_probes(df: DataFrame, vec_col: str, tables: int, flips: int,
                    prefix: str = "p", nplanes: int = LSH_PLANES) -> DataFrame:
    """Adds one array column ``{prefix}{t}`` per hash table holding
    the multi-probe bucket ids: ``[base, base^bit(m1), base^bit(m2),
    ...]`` where m1..m_flips are the planes with the smallest
    absolute margin |dot(vec, plane)|.

    The per-plane dots materialize ONCE in their own projection (the
    sign and the margin both reference them), so probing costs the
    same NPLANES·tables folds the base bucket already pays — the
    margin sort is over a tables×NPLANES literal-size array. Narrow
    map, no shuffle; at 100 TB this is scan-speed like the base
    bucketing."""
    dots = df.select(
        "*",
        *[
            F.expr(_dot_plane_sql(vec_col, t, p)).alias(f"_d{t}_{p}")
            for t in range(tables)
            for p in range(nplanes)
        ],
    )
    # each probe column is ONE parsed expression (base sign-sum,
    # margin-struct sort, flip transform) — the py4j lambda builders
    # this replaces dominated driver-side build time; the parsed
    # tree (CaseWhen/ArraySort/Transform over the _d columns) is the
    # same one the HOF builders produced, so values are unchanged
    def _probe_col(t: int):
        base = (
            "("
            + " + ".join(
                f"(CASE WHEN _d{t}_{p} >= 0 THEN {1 << p} ELSE 0 END)"
                for p in range(nplanes)
            )
            + ")"
        )
        structs = ", ".join(
            f"named_struct('m', abs(_d{t}_{p}), 'p', {p})"
            for p in range(nplanes)
        )
        return F.expr(
            f"concat(array({base}), transform("
            f"slice(array_sort(array({structs})), 1, {flips}), "
            f"s -> {base} ^ shiftleft(1, s.p)))"
        ).alias(f"{prefix}{t}")

    return dots.select(*df.columns, *[_probe_col(t) for t in range(tables)])


def probe_key_pairs(tables: int, prefix: str = "p"):
    """Flattened array of (t, bucket) structs over the probe columns
    ``{prefix}0..{prefix}{tables-1}`` — feed to ``F.explode`` to get
    one join key per probe. Uses a factory per table so the hof
    lambda stays single-parameter (see _probe_col note) and the
    table id binds eagerly."""

    def _tagged(t: int):
        return F.expr(
            f"transform({prefix}{t}, "
            f"b -> named_struct('t', {t}, 'bucket', b))"
        )

    return F.flatten(F.array(*[_tagged(t) for t in range(tables)]))


def similarity_lsh_topk(
    spark: SparkSession, sf_dir: str, *, nplanes: int | None = None
) -> DataFrame:
    """Random-hyperplane LSH top-k: candidates = corpus vectors
    sharing ANY of the query's LSH_TABLES bucket ids, verified with
    exact cosine and ranked.

    ``nplanes`` defaults to the pinned fixture constant (so the
    static DuckDB oracle stays valid); a production caller sizes it
    with :func:`lsh_planes` so bucket count tracks corpus size.

    Scale shape vs brute force: each hash table's candidate join is
    an equi-join on a small int key — O(|Q|·bucket) pairs instead of
    O(|Q|·N); more tables buy recall linearly in cost. Bucket ids
    are sign bits of literal-plane dot products computed in one
    narrow map over the corpus (no per-row hashing, no join against
    a planes table).

    Measured top-5 recall vs the exact baseline on the fixture:
    0.40 at L=2 tables, 0.58 at L=4 base buckets only, 0.94 with
    query-side multi-probe (LSH_PROBE_FLIPS lowest-margin bit flips
    per table, Lv et al. VLDB'07) — and the fixtures are
    near-uniform random vectors, LSH's hardest case; clustered real
    corpora bucket far better at the same L. The (L, flips) pair is
    the recall/cost dial; flips are free on the corpus side (still
    L keys/vector).
    """
    np_ = nplanes or LSH_PLANES
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", _as_double_vec(F.col("embedding")).alias("vec")
    )
    with_buckets = emb.select(
        "vec_id",
        "vec",
        *[
            _lsh_bucket("vec", t, np_).alias(f"b{t}")
            for t in range(LSH_TABLES)
        ],
    )
    # ONE corpus pass: explode each row to (table, bucket) keys and
    # broadcast-join the (tiny, likewise-exploded) query side on
    # them — vs one join per hash table, which rescans the corpus L
    # times. The explode multiplies rows ×L but stays narrow; the
    # probe is a single broadcast hash join.
    tb = F.explode_outer(
        F.array(
            *[
                F.struct(F.lit(t).alias("t"), F.col(f"b{t}").alias("bucket"))
                for t in range(LSH_TABLES)
            ]
        )
    )
    corpus_keys = with_buckets.select("vec_id", "vec", tb.alias("tb")).select(
        "vec_id", "vec", "tb.t", "tb.bucket"
    )
    # query side multi-probes: base bucket + LSH_PROBE_FLIPS
    # lowest-margin flips per table, flattened to (t, bucket) keys.
    # Only the (tiny, broadcast) query side grows — ×(1+flips) keys.
    qprobe = with_lsh_probes(
        emb.filter(F.col("vec_id") < N_QUERIES),
        "vec",
        LSH_TABLES,
        LSH_PROBE_FLIPS,
        nplanes=np_,
    )
    qtb = F.explode(probe_key_pairs(LSH_TABLES))
    query_keys = qprobe.select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        qtb.alias("tb"),
    ).select("query_id", "qvec", "tb.t", "tb.bucket")
    ck, qk = corpus_keys.alias("c"), query_keys.alias("q")
    # score IN the join projection, dedupe after: a pair found via
    # several tables/probes scores identically each time, so the
    # distinct sees three scalars per row instead of two 64-double
    # vectors — the dedup exchange shrinks ~40×, at the price of
    # re-folding the cosine for multi-table duplicates (cheap: the
    # fold is map-side; the shuffle is the scale cost). Mirrors the
    # oracle's score-then-DISTINCT exactly.
    cands = ck.join(
        F.broadcast(qk),
        (F.col("c.t") == F.col("q.t"))
        & (F.col("c.bucket") == F.col("q.bucket"))
        & (F.col("c.vec_id") != F.col("q.query_id")),
    ).select(
        "q.query_id",
        F.col("c.vec_id").alias("neighbor_id"),
        F.round(_cosine(F.col("q.qvec"), F.col("c.vec")), 6).alias("cosine"),
    )
    scored = cands.dropDuplicates(["query_id", "neighbor_id"])
    return _topk(scored, TOP_K)


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column —
    the standard 4× shrink applied to an embedding store before ANN
    serving (per-vector scale = max|x|/127, q_i = round(x_i/scale)).

    Emits per-vector audit stats instead of the raw int8 array so
    the result is oracle-comparable: dim count, the scale, the
    quantized checksum, and the reconstruction error. Error and
    checksum fold in INTEGER space (bigint), making the sums
    order-independent and bit-identical across engines; the
    per-element doubles use the identical expression tree on both
    sides. ``scale`` materializes in its own projection and is
    referenced by several expressions in the next one, so
    CollapseProject does not inline the array_max into the
    per-element lambdas (the O(d²) trap). Narrow map, zero
    shuffles — at 100 TB this runs at scan speed."""
    emb = load_table(spark, sf_dir, "embeddings")
    vecd = emb.select("vec_id", _as_double_vec("embedding").alias("v"))
    scaled = vecd.select(
        "vec_id",
        "v",
        (
            F.greatest(
                F.array_max(F.transform("v", lambda x: F.abs(x))),
                F.lit(1e-30),
            )
            / F.lit(127.0)
        ).alias("scale"),
    )
    s = F.col("scale")
    err_elem = lambda x: (  # noqa: E731 — reconstruction residual per dim
        F.round(
            (x - F.round(x / s) * s) * (x - F.round(x / s) * s) * F.lit(1e12)
        ).cast("long")
    )
    return scaled.select(
        "vec_id",
        F.size("v").alias("n_dims"),
        F.round(s, 9).alias("scale_r9"),
        F.aggregate(
            F.transform("v", lambda x: F.round(x / s).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("q_sum"),
        F.aggregate(
            F.transform("v", err_elem),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("err_fp"),
    )


# Johnson–Lindenstrauss random projection: 64 → 16 dims with a fixed
# md5-derived ±1/√k sign matrix (Achlioptas 2003 database-friendly
# variant: entries ±1 scaled by 1/√TARGET, seeded like the LSH
# planes so every engine derives the identical literal matrix)
RP_TARGET_DIM = 16


def _rp_weight(j: int, d: int) -> float:
    import hashlib

    h = int(hashlib.md5(f"rp:{j}:{d}".encode()).hexdigest()[:15], 16)
    sign = 1.0 if h % 2 == 0 else -1.0
    return sign / (RP_TARGET_DIM ** 0.5)


RP_WEIGHTS = [
    [_rp_weight(j, d) for d in range(EMBED_DIM)] for j in range(RP_TARGET_DIM)
]


def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection dimensionality reduction of the embedding
    store (64 → RP_TARGET_DIM dims): the standard shrink applied
    before brute-force or IVF search when the index must fit memory
    — JL guarantees pairwise distances survive within ε for
    k = O(log N / ε²) output dims.

    Emits per-vector audit stats rather than the raw projected
    array, mirroring embedding_quantize_int8's oracle strategy:
    a fixed-point checksum of the projected components (exact bigint
    fold in literal component order) and the projected/original norm
    ratio (identical strict-left-fold expression tree in DuckDB).
    The projection itself is RP_TARGET_DIM dot folds against LITERAL
    weight rows — a narrow map, zero shuffles, scan-speed at 100 TB,
    and nothing about it depends on corpus statistics (no fit pass,
    unlike PCA — which is the point at this scale)."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", _as_double_vec(F.col("embedding")).alias("vec"))
    proj_cols = [
        _dot(
            F.col("vec"), _dlit_array(tuple(RP_WEIGHTS[j]))
        ).alias(f"c{j}")
        for j in range(RP_TARGET_DIM)
    ]
    p = v.select("vec_id", "vec", *proj_cols)
    checksum = None
    sq = None
    for j in range(RP_TARGET_DIM):
        term = F.round(F.col(f"c{j}") * 1e6).cast("long")
        checksum = term if checksum is None else checksum + term
        s = F.col(f"c{j}") * F.col(f"c{j}")
        sq = s if sq is None else sq + s
    in_norm = F.sqrt(
        F.aggregate(F.col("vec"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return p.select(
        "vec_id",
        F.lit(RP_TARGET_DIM).alias("n_dims_out"),
        checksum.alias("checksum_fp"),
        F.round(F.sqrt(sq) / in_norm, 6).alias("norm_ratio"),
    )


# --- product quantization (the memory-side ANN compression) ----------------
# 64 dims → PQ_SUBVECTORS codes of log2(PQ_CODES) bits each: 64 floats
# (256 B) become 4 code ids (3 bits each) + one shared codebook — the
# compression IVF-PQ indexes use so 100 TB of vectors fit in RAM.
# Codebook entries are md5-seeded literals (like the LSH planes) so
# Spark and the DuckDB oracle hold bit-identical constants; a trained
# codebook (k-means per subspace) swaps numbers, not the plan.
PQ_SUBVECTORS = 4
PQ_SUBDIM = EMBED_DIM // PQ_SUBVECTORS  # 16
PQ_CODES = 8


def _pq_weight(s: int, k: int, d: int) -> float:
    import hashlib

    h = int(hashlib.md5(f"pq:{s}:{k}:{d}".encode()).hexdigest()[:15], 16)
    return (h % 2001 - 1000) / 1000.0


PQ_CODEBOOK = [
    [[_pq_weight(s, k, d) for d in range(PQ_SUBDIM)] for k in range(PQ_CODES)]
    for s in range(PQ_SUBVECTORS)
]


def embedding_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode + reconstruction-error audit.

    Per vector: split into PQ_SUBVECTORS contiguous subvectors,
    assign each the codebook entry minimizing squared L2 distance
    (ties → lowest code id), and audit the total quantization error
    as a fixed-point bigint (floor(d²·1e6) summed over subvectors —
    order-independent integer arithmetic, so the audit value hashes
    identically across engines).

    Scale: a ZERO-SHUFFLE narrow map — every distance fold runs
    against literal codebook arrays inside codegen (no join against
    a codebook table, no per-row Python), the same shape as
    embedding_quantize_int8. Encoding 100 TB of vectors is
    scan-bound; the argmin is over PQ_CODES literal folds per
    subvector. The double comparisons in the argmin use one
    expression tree in both engines, so code assignments match
    bit-exactly."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", _as_double_vec(F.col("embedding")).alias("vec")
    )

    def _best(s: int):
        sub = F.slice(F.col("vec"), s * PQ_SUBDIM + 1, PQ_SUBDIM)
        cands = []
        for k in range(PQ_CODES):
            code = _dlit_array(tuple(PQ_CODEBOOK[s][k]))
            d2 = F.aggregate(
                F.zip_with(sub, code, lambda x, c: (x - c) * (x - c)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            cands.append(F.struct(d2.alias("d"), F.lit(k).alias("k")))
        return F.array_sort(F.array(*cands))[0]

    staged = emb.select(
        "vec_id", *[_best(s).alias(f"b{s}") for s in range(PQ_SUBVECTORS)]
    )
    err = sum(
        F.floor(F.col(f"b{s}.d") * 1_000_000.0).cast("long")
        for s in range(PQ_SUBVECTORS)
    )
    return staged.select(
        "vec_id",
        *[
            F.col(f"b{s}.k").cast("int").alias(f"code_{s}")
            for s in range(PQ_SUBVECTORS)
        ],
        err.alias("err_fp"),
    )


def similarity_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production PQ search path: TRAINED per-subspace
    codebooks (:func:`_pq_train_codebooks`), ADC shortlist of
    ``PQ_RERANK`` candidates per query, then EXACT cosine re-ranking
    of the shortlist only — FAISS's ``IndexRefine`` composition over
    IVF-PQ. This is :func:`similarity_pq_topk` with both production
    dials on, registered separately so the driver oracle covers the
    composed path end-to-end (the trained-codebook chain, the ADC
    scan, and the refine join are each individually oracle-proven;
    this entry proves their composition).

    Scale: the corpus is scanned as 4 small ints/vector (the PQ
    codes); full-width float math touches |Q|·PQ_RERANK shortlisted
    vectors, never the corpus. The shortlist self-identifies via the
    deterministic (adc_dist, neighbor_id) order, so the refine join
    input — hence the output — is engine-exact even though ADC
    distances are approximate."""
    return similarity_pq_topk(
        spark, sf_dir, trained=True, rerank=PQ_RERANK
    )


def similarity_pq_topk(
    spark: SparkSession,
    sf_dir: str,
    *,
    trained: bool = True,
    rerank: int = 0,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k search — the memory-side
    scale path that pairs with :func:`embedding_pq_encode`: the
    corpus exists only as PQ codes (4 small ints/vector), and each
    query precomputes one distance TABLE per subvector (distance
    from its subvector to each codebook entry). Scoring a corpus
    vector is then PQ_SUBVECTORS table lookups + adds — no
    full-width float math touches the corpus, which is how FAISS
    IVF-PQ scans billions of vectors in RAM.

    Plan shape: the code table is a narrow map (embedding_pq_encode,
    zero shuffles); the per-query distance tables are
    |Q|·PQ_SUBVECTORS·PQ_CODES literal-fold doubles built on the
    (tiny, broadcast) query side; scoring is one broadcast join +
    element_at lookups, and ranking reuses the two-phase top-k
    (partition-local cut, then exact window). ``adc_dist`` is the
    raw double of a fixed left-fold (d0+d1)+d2)+d3 — identical
    expression order in the oracle, no final rounding (rounding at
    .5 decimal boundaries is engine-divergent; see ROUND4_NOTES).
    Exactness: distances are to the QUANTIZED corpus (that is the
    PQ trade); the exact twin similarity_topk carries value-level
    recall in RECALL.md.

    Operating point: the DEFAULT is the TRAINED per-subspace Lloyd
    codebooks (:func:`_pq_train_codebooks`) — the production index a
    plain-named call should build (measured top-5 recall 0.24 vs
    0.06 untrained on the worst-case uniform fixture, RECALL.md §PQ);
    the oracle pins the same trained chain (the Lloyd fixed-point
    means are engine-exact, so the codebook — hence every ADC
    distance — is oracle-checkable). ``trained=False`` is the
    teaching dial: the md5-seeded literal codebook whose VALUES
    relation makes the quantizer itself legible. ``rerank=N`` keeps
    an ADC shortlist of N per query and re-ranks it with EXACT
    cosine — the FAISS ``refine`` stage: the expensive full-width
    math touches only |Q|·N shortlisted vectors, never the corpus
    (recall 0.68 at N=50; registered as
    :func:`similarity_pq_rerank_topk`). With rerank the output
    schema swaps adc_dist for the exact ``cosine``."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double_vec(F.col("embedding")).alias("vec")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    if trained:
        # VERDICT r14 #6: similarity_pq_topk and
        # similarity_pq_rerank_topk (and rerank_recall_eval through
        # it) each re-ran the identical trained-ADC scan + two-phase
        # cut; the ranked shortlist at max(TOP_K, PQ_RERANK) is ONE
        # frame both consume (rk ≤ TOP_K is a prefix of rk ≤ 50
        # under the same (adc_dist, neighbor_id) total order, so
        # every emitted row is unchanged). |Q|·PQ_RERANK rows of
        # session state, cached like the recall gates' exact leg.
        ranked = _adc_ranked_shortlist(spark, sf_dir)
        if not rerank:
            return ranked.filter(F.col("rk") <= TOP_K).select(
                "query_id", "neighbor_id", "adc_dist", "rk"
            )
        return _pq_refine(
            ranked.filter(F.col("rk") <= max(TOP_K, rerank)), q, emb
        )
    books = [
        {k: PQ_CODEBOOK[s][k] for k in range(PQ_CODES)}
        for s in range(PQ_SUBVECTORS)
    ]
    codes = embedding_pq_encode(spark, sf_dir).select(
        "vec_id", *[f"code_{s}" for s in range(PQ_SUBVECTORS)]
    )
    ranked = _adc_ranked(codes, q, books, max(TOP_K, rerank))
    if not rerank:
        return ranked.filter(F.col("rk") <= TOP_K).select(
            "query_id", "neighbor_id", "adc_dist", "rk"
        )
    return _pq_refine(
        ranked.filter(F.col("rk") <= max(TOP_K, rerank)), q, emb
    )


def _adc_ranked(
    codes: DataFrame, q: DataFrame, books: list, shortlist: int
) -> DataFrame:
    """The ADC scan + two-phase cut shared by every PQ search path:
    (query_id, neighbor_id, adc_dist, rk) ranked ascending
    (adc_dist, neighbor_id), rk ≤ shortlist·partitions pre-window
    (exact rk ≤ shortlist after). Split out of similarity_pq_topk
    unchanged (same expressions, same order; the dense distance
    tables — position k+1 = code k's distance, inf holes for died
    clusters — are cached SQL-text parses, see _l2sq_lit_sql)."""
    bk = _books_key(books)
    qd = q.select(
        "query_id",
        *[
            _pq_dtable_sql("qvec", s, bk).alias(f"dt{s}")
            for s in range(PQ_SUBVECTORS)
        ],
    )
    adc = None
    for s in range(PQ_SUBVECTORS):
        term = F.element_at(F.col(f"dt{s}"), F.col(f"code_{s}") + 1)
        adc = term if adc is None else adc + term
    scored = codes.join(
        F.broadcast(qd), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), adc.alias("adc_dist")
    )
    # two-phase top-k, ascending distance (mirror of _topk)
    local = (
        scored.withColumn("_pid", F.spark_partition_id())
        .groupBy("query_id", "_pid")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("adc_dist"), F.col("neighbor_id"))
                    )
                ),
                1,
                shortlist,
            ).alias("top")
        )
        .select("query_id", F.explode_outer("top").alias("t"))
        .select(
            "query_id",
            F.col("t.neighbor_id").alias("neighbor_id"),
            F.col("t.adc_dist").alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return local.withColumn("rk", F.row_number().over(w))


def _pq_refine(short: DataFrame, q: DataFrame, emb: DataFrame) -> DataFrame:
    """Exact-cosine refine over a (query_id, neighbor_id) shortlist —
    FAISS's IndexRefine stage, split out of similarity_pq_topk
    unchanged."""
    nb = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("nvec")
    )
    rescored = (
        short.select("query_id", "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .join(nb, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(_cosine(F.col("qvec"), F.col("nvec")), 6).alias("cosine"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        rescored.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


# VERDICT r14 #6: the trained-ADC ranked shortlist is built ONCE per
# (application, corpus) and shared by similarity_pq_topk /
# similarity_pq_rerank_topk / similarity_rerank_recall_eval — the
# exact-top-k session entry's discipline (|Q|·PQ_RERANK rows of
# session state, localCheckpointed; the oracle re-validates every
# consumer's values each run).
def _adc_ranked_shortlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    def make(_fp) -> DataFrame:
        books = [
            dict(book) for book in _pq_train_codebooks(spark, sf_dir)
        ]
        codes = embedding_pq_encode_trained(spark, sf_dir).select(
            "vec_id", *[f"code_{s}" for s in range(PQ_SUBVECTORS)]
        )
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", _as_double_vec(F.col("embedding")).alias("vec")
        )
        q = emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
        )
        return (
            _adc_ranked(codes, q, books, max(TOP_K, PQ_RERANK))
            .filter(F.col("rk") <= max(TOP_K, PQ_RERANK))
            .localCheckpoint(eager=True)
        )

    return session_cached(
        spark, sf_dir, ("embeddings",), "adc_shortlist", make
    )


PQ_TRAIN_ITERS = 2
# ADC shortlist size for the refine (exact-rerank) stage: the
# expensive full-width cosine touches |Q|·PQ_RERANK vectors only.
# Measured on the uniform fixture (RECALL.md §PQ): trained ADC top-5
# recall 0.24 → 0.68 with rerank=50 at ~1% of the corpus re-scored.
PQ_RERANK = 50


def _l2sq(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _books_key(books) -> tuple:
    """Hashable view of a codebook list (per subspace: sorted
    (k, values) pairs) for the lru-cached SQL-text builders."""
    out = []
    for book in books:
        items = book.items() if isinstance(book, dict) else book
        out.append(tuple((int(k), tuple(v)) for k, v in sorted(items)))
    return tuple(out)


def _l2sq_lit_sql(vec_slice_sql: str, code: tuple) -> str:
    """The _l2sq fold against a literal code as SQL text — identical
    parsed tree, ONE py4j call (the _dot_plane_sql lesson: the HOF
    lambda builders cost ~8 py4j round-trips each, and the PQ paths
    build 4×PQ_CODES of these per invocation — measured as the
    dominant share of their per-run planning time)."""
    arr = "array(" + ", ".join(f"{v!r}D" for v in code) + ")"
    return (
        f"aggregate(zip_with({vec_slice_sql}, {arr}, "
        f"(x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x)"
    )


@_lru_cache(maxsize=None)
def _pq_best_sql(vec: str, s: int, books_key: tuple):
    """array_sort(array(struct(d, k), ...))[0] for subspace s — the
    encode argmin as one cached parsed expression."""
    sub = f"slice({vec}, {s * PQ_SUBDIM + 1}, {PQ_SUBDIM})"
    structs = ", ".join(
        f"named_struct('d', {_l2sq_lit_sql(sub, cv)}, 'k', {k})"
        for k, cv in books_key[s]
    )
    return F.expr(f"array_sort(array({structs}))[0]")


@_lru_cache(maxsize=None)
def _pq_dtable_sql(vec: str, s: int, books_key: tuple):
    """The per-query ADC distance table for subspace s (dense array,
    position k+1 = code k's distance, inf holes for died clusters)
    as one cached parsed expression."""
    sub = f"slice({vec}, {s * PQ_SUBDIM + 1}, {PQ_SUBDIM})"
    present = dict(books_key[s])
    ds = [
        _l2sq_lit_sql(sub, present[k])
        if k in present
        else "double('Infinity')"
        for k in range(PQ_CODES)
    ]
    return F.expr("array(" + ", ".join(ds) + ")")


def _pq_train_codebooks(
    spark: SparkSession, sf_dir: str
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace Lloyd training of the PQ codebooks (k-means on
    each PQ_SUBDIM-dim slice, PQ_TRAIN_ITERS iterations): L2
    assignment against the broadcast codebook, then FIXED-POINT
    per-dimension means (coordinates rounded to 1e-6, summed as
    BIGINT — order-independent, so the distributed mean is
    bit-identical to the oracle's sequential one; the
    _kmeans_centroids pattern with L2 instead of cosine). Seeds =
    the first PQ_CODES subvectors. The result is collected — model
    state bounded at PQ_SUBVECTORS·PQ_CODES·PQ_SUBDIM doubles (2 KB)
    — so the ENCODE pass stays a zero-shuffle literal fold exactly
    like the untrained path. Training is an INDEX build: the books
    are cached per session and corpus, over the parquet tier."""
    return session_cached(
        spark, sf_dir, ("embeddings",), "pq_codebooks",
        lambda fp: _stored_books(
            spark, "pq_codebooks", fp,
            lambda: _pq_train_books(spark, sf_dir),
        ),
    )


def _stored_books(
    spark: SparkSession, kind: str, fingerprint: str, train
) -> list[list[tuple[int, list[float]]]]:
    """Codebooks through the (s, k, cvec) parquet artifact ``kind``,
    trained with ``train()`` only on a cold store. Parquet float64
    is bit-preserving, so loaded books score identically to trained
    ones."""
    rows = load_or_build(
        spark,
        kind,
        fingerprint,
        lambda: spark.createDataFrame(
            [
                (s, k, vals)
                for s, book in enumerate(train())
                for k, vals in book
            ],
            "s int, k int, cvec array<double>",
        ),
    ).collect()
    return [
        sorted((r["k"], list(r["cvec"])) for r in rows if r["s"] == s)
        for s in range(PQ_SUBVECTORS)
    ]


def _pq_train_books(
    spark: SparkSession, sf_dir: str
) -> list[list[tuple[int, list[float]]]]:
    """The actual Lloyd training pass (docstring above) — called
    only on artifact miss."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", _as_double_vec(F.col("embedding")).alias("vec")
    )
    return _pq_train_books_from(emb)


def _pq_train_books_from(
    emb: DataFrame,
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace Lloyd training over ANY (vec_id, vec) frame —
    factored out so the residual-encoding IVFPQ can train on
    residual vectors with the identical fixed-point machinery."""
    books: list[list[tuple[int, list[float]]]] = []
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("k"))
    for s in range(PQ_SUBVECTORS):
        sub = emb.select(
            "vec_id",
            F.slice("vec", s * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sv"),
        )
        cent = sub.filter(F.col("vec_id") < PQ_CODES).select(
            F.col("vec_id").cast("int").alias("k"), F.col("sv").alias("cvec")
        )
        for _ in range(PQ_TRAIN_ITERS):
            assigned = (
                sub.join(F.broadcast(cent), how="cross")
                .select(
                    "vec_id", "sv", "k",
                    _l2sq(F.col("sv"), F.col("cvec")).alias("d2"),
                )
                .withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") == 1)
                .select("k", "sv")
            )
            dims = assigned.select("k", F.posexplode("sv").alias("pos", "x"))
            mean = (F.col("sx").cast("double") / F.col("n")) / F.lit(1e6)
            cent = (
                dims.groupBy("k", "pos")
                .agg(
                    F.sum(F.round(F.col("x") * F.lit(1e6)).cast("long")).alias(
                        "sx"
                    ),
                    F.count("*").alias("n"),
                )
                .select("k", "pos", mean.alias("m"))
                .groupBy("k")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "m"))),
                        lambda t: t.m,
                    ).alias("cvec")
                )
                .localCheckpoint(eager=True)
            )
        rows = {r["k"]: list(r["cvec"]) for r in cent.collect()}
        # keep ORIGINAL code ids (a died-out cluster leaves a gap) so
        # the oracle's id space matches exactly
        books.append(sorted(rows.items()))
    return books


def embedding_pq_encode_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode against TRAINED per-subspace codebooks — the
    production form of :func:`embedding_pq_encode` (measured top-5
    ADC recall 0.06 → 0.24 on the worst-case uniform fixture;
    RECALL.md §PQ). Training runs once per (session, corpus); the
    encode itself is the same zero-shuffle literal fold as the
    untrained path because the trained codebook is bounded model
    state (2 KB) collected to the driver. Codes keep their original
    seed ids; err_fp is the same fixed-point quantization-error
    audit."""
    books = _pq_train_codebooks(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", _as_double_vec(F.col("embedding")).alias("vec")
    )
    bk = _books_key(books)
    # inline() routes the four argmin structs through ONE Generate so
    # the downstream .k / .d extractions read materialized columns —
    # a collapsed projection would substitute each b{s} argmin into
    # BOTH extractions and evaluate it twice per row (the
    # _nearest_cells note (b), same duplication). The argmin
    # expressions are cached SQL-text parses (_pq_best_sql).
    staged = emb.select(
        "vec_id",
        F.inline(
            F.array(
                F.struct(
                    *[
                        _pq_best_sql("vec", s, bk).alias(f"b{s}")
                        for s in range(PQ_SUBVECTORS)
                    ]
                )
            )
        ),
    )
    err = sum(
        F.floor(F.col(f"b{s}.d") * 1_000_000.0).cast("long")
        for s in range(PQ_SUBVECTORS)
    )
    return staged.select(
        "vec_id",
        *[
            F.col(f"b{s}.k").cast("int").alias(f"code_{s}")
            for s in range(PQ_SUBVECTORS)
        ],
        err.alias("err_fp"),
    )


# mutual-kNN graph over a pinned corpus slice: constant work per SF
# so the oracle stays static; production sizing notes in the docstring
KNN_GRAPH_N = 500
KNN_GRAPH_K = 5


def similarity_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full FAISS ``IndexIVFPQ`` composition (``by_residual=
    False``) with a refine stage: IVF cells RESTRICT which vectors
    are scanned (only the query's NPROBE nearest cells), PQ codes
    are WHAT gets scanned (4 small ints per vector, ADC lookup
    tables), and the exact rerank touches only the |Q|·PQ_RERANK
    shortlist — the memory-side and compute-side scale dials
    composed, which is how billion-vector indexes actually serve.

    Every stage reuses an oracle-proven core: cells from
    `_kmeans_centroids` (fixed-point Lloyd, cached per session),
    codes from `embedding_pq_encode_trained` (artifact-backed
    trained codebooks), ADC + refine from `similarity_pq_topk`'s
    machinery. Classical IVFPQ encodes residuals (vec − centroid);
    this composition scores raw-vector codes (FAISS's by_residual
    dial off) so the code table is cell-independent — the documented
    trade is a little ADC accuracy for a reusable flat code table.

    Scale shape: assignment/probing are broadcast-centroid narrow
    passes; the candidate join is cell-restricted (×NPROBE/NCELLS of
    the corpus); ADC is lookups+adds on the coded table; only the
    shortlist pays full-width float math."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", _as_double_vec(F.col("embedding")).alias("vec")
    )
    cents = _ivf_quantizer(spark, sf_dir, emb, NCENTROIDS)

    # narrow literal argmin/arg-top-NPROBE instead of the cross-join
    # + window shape (r15, guide §2.4; identity argument at
    # _nearest_cells)
    assigned = emb.select(
        "vec_id",
        F.explode(
            _nearest_cells("vec", cents, 1)
        ).alias("bucket"),  # Generate, not element_at — see helper
    )
    codes = embedding_pq_encode_trained(spark, sf_dir).select(
        "vec_id", *[f"code_{s}" for s in range(PQ_SUBVECTORS)]
    )
    coded = codes.join(assigned, "vec_id")

    books = [dict(b) for b in _pq_train_codebooks(spark, sf_dir)]
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    probes = q.select(
        "query_id",
        F.explode(
            _nearest_cells("qvec", cents, NPROBE)
        ).alias("bucket"),
    )

    bk = _books_key(books)
    qd = q.select(
        "query_id",
        *[
            _pq_dtable_sql("qvec", s, bk).alias(f"dt{s}")
            for s in range(PQ_SUBVECTORS)
        ],
    )
    probe_tables = probes.join(qd, "query_id")
    adc = None
    for s in range(PQ_SUBVECTORS):
        term = F.element_at(F.col(f"dt{s}"), F.col(f"code_{s}") + 1)
        adc = term if adc is None else adc + term
    scored = coded.join(
        F.broadcast(probe_tables),
        (coded["bucket"] == probe_tables["bucket"])
        & (coded["vec_id"] != probe_tables["query_id"]),
    ).select(
        "query_id",
        coded["vec_id"].alias("neighbor_id"),
        adc.alias("adc_dist"),
    )
    w_short = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    short = (
        scored.withColumn("srk", F.row_number().over(w_short))
        .filter(F.col("srk") <= PQ_RERANK)
        .select("query_id", "neighbor_id")
    )
    nb = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("nvec")
    )
    rescored = (
        short.join(F.broadcast(q), "query_id")
        .join(nb, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(_cosine(F.col("qvec"), F.col("nvec")), 6).alias("cosine"),
        )
    )
    w_final = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        rescored.withColumn("rk", F.row_number().over(w_final))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


# residual CODE TABLE (r15): the coded corpus (vec_id, bucket,
# code_0..3) IS the stored IVFPQ index — FAISS keeps exactly this in
# its inverted lists; re-deriving it per query invocation re-paid
# 4×PQ_CODES l2 folds per corpus row. Built once per (application,
# corpus) and localCheckpointed (5 small ints per vector), the same
# model-state class as the IVF quantizer and the residual codebooks;
# the oracle re-validates every consumer's values each run.
def _res_coded_cached(
    spark: SparkSession, sf_dir: str, residuals: DataFrame, books: list
) -> DataFrame:
    def make(_fp) -> DataFrame:
        bk = _books_key(books)
        return residuals.select(
            "vec_id",
            "bucket",
            *[
                _pq_best_sql("vec", s, bk).alias(f"b{s}")
                for s in range(PQ_SUBVECTORS)
            ],
        ).select(
            "vec_id",
            "bucket",
            *[
                F.col(f"b{s}.k").cast("int").alias(f"code_{s}")
                for s in range(PQ_SUBVECTORS)
            ],
        ).localCheckpoint(eager=True)

    return session_cached(
        spark, sf_dir, ("embeddings",), "res_coded", make
    )


def _residual_frames(spark: SparkSession, sf_dir: str):
    """(emb, centroid values, assigned-with-centroid, residuals)
    shared by the residual-IVFPQ train/encode/search stages.
    assigned keeps the centroid VECTOR because the residual is
    vec − centroid(cell)."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", _as_double_vec(F.col("embedding")).alias("vec")
    )
    cents = _ivf_quantizer(spark, sf_dir, emb, NCENTROIDS)
    # narrow literal argmin carrying the winning centroid VECTOR
    # (the residual is vec − centroid(cell)); r15 rewrite of the
    # cross-join + window shape — identity argument at
    # _nearest_cells. inline() = ONE Generate evaluating the argmin
    # once per row (element_at references would re-evaluate it per
    # column and under pushed join-key filters — see helper)
    assigned = emb.select(
        "vec_id",
        "vec",
        F.inline(_nearest_cells("vec", cents, 1, with_cvec=True)),
    ).withColumnsRenamed({"cent_id": "bucket", "cv": "cvec"})
    residuals = assigned.select(
        "vec_id",
        "bucket",
        F.zip_with("vec", "cvec", lambda x, c: x - c).alias("vec"),
    )
    return emb, cents, assigned, residuals


def _pq_res_codebooks(
    spark: SparkSession, sf_dir: str
) -> list[list[tuple[int, list[float]]]]:
    """Residual-trained PQ codebooks — the same fixed-point Lloyd
    core over (vec − centroid) vectors, with the same session-entry +
    parquet-artifact tiers as the raw-vector books."""
    def train():
        residuals = _residual_frames(spark, sf_dir)[3]
        return _pq_train_books_from(residuals.select("vec_id", "vec"))

    return session_cached(
        spark, sf_dir, ("embeddings",), "pq_codebooks_residual",
        lambda fp: _stored_books(spark, "pq_codebooks_residual", fp, train),
    )


def similarity_ivf_pq_residual_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FAISS ``IndexIVFPQ`` with ``by_residual=True`` — the exact
    production composition: codebooks are trained on RESIDUALS
    (vec − its cell's centroid), so the 12-bit budget models the
    within-cell displacement instead of the whole space (the reason
    real IVFPQ encodes residuals: residual norms are much smaller
    than vector norms, so the same code count quantizes finer). The
    price is that a query's distance tables become PER PROBED CELL —
    q's residual differs cell by cell — which is why FAISS
    precomputes per-cell tables; here that is |Q|·NPROBE tiny rows.

    Engine-exactness carries through: centroids and codebooks are
    fixed-point means (bit-identical in the oracle), residual
    subtraction is exact IEEE on identical trees, ADC folds in the
    pinned left-assoc order, and the refine reranks with exact
    cosine over the ORIGINAL vectors.

    Scale shape: identical to `similarity_ivf_pq_topk` — broadcast
    centroids, cell-restricted coded scan, |Q|·PQ_RERANK full-width
    refine — plus one narrow residual map."""
    emb, cents, assigned, residuals = _residual_frames(spark, sf_dir)
    books = [dict(b) for b in _pq_res_codebooks(spark, sf_dir)]
    coded = _res_coded_cached(spark, sf_dir, residuals, books)

    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    # narrow literal arg-top-NPROBE with the probed cell's centroid
    # vector carried for the per-cell query residual (r15; identity
    # argument at _nearest_cells)
    probes = q.select(
        "query_id",
        F.explode(
            _nearest_cells("qvec", cents, NPROBE, with_cvec=True)
        ).alias("pc"),
        "qvec",
    ).select(
        "query_id",
        F.col("pc.cent_id").alias("bucket"),
        F.zip_with(
            "qvec", F.col("pc.cv"), lambda x, c: x - c
        ).alias("qres"),
    )

    bk = _books_key(books)
    probe_tables = probes.select(
        "query_id",
        "bucket",
        *[
            _pq_dtable_sql("qres", s, bk).alias(f"dt{s}")
            for s in range(PQ_SUBVECTORS)
        ],
    )
    adc = None
    for s in range(PQ_SUBVECTORS):
        term = F.element_at(F.col(f"dt{s}"), F.col(f"code_{s}") + 1)
        adc = term if adc is None else adc + term
    scored = coded.join(
        F.broadcast(probe_tables),
        (coded["bucket"] == probe_tables["bucket"])
        & (coded["vec_id"] != probe_tables["query_id"]),
    ).select(
        "query_id",
        coded["vec_id"].alias("neighbor_id"),
        adc.alias("adc_dist"),
    )
    w_short = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    short = (
        scored.withColumn("srk", F.row_number().over(w_short))
        .filter(F.col("srk") <= PQ_RERANK)
        .select("query_id", "neighbor_id")
    )
    nb = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("nvec")
    )
    rescored = (
        short.join(F.broadcast(q), "query_id")
        .join(nb, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(_cosine(F.col("qvec"), F.col("nvec")), 6).alias("cosine"),
        )
    )
    w_final = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        rescored.withColumn("rk", F.row_number().over(w_final))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


def similarity_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual k-nearest-neighbor graph over the embedding corpus:
    an undirected edge (a, b) exists iff b is in a's top-K cosine
    neighbors AND a is in b's — the graph SemDeDup-style clustering,
    label propagation (``_min_label_propagation``) and
    graph-connectivity curation passes consume. Mutuality prunes
    asymmetric hub edges (a point on a cluster edge may claim a hub
    as neighbor, but the hub doesn't claim it back).

    Fixture shape: brute-force exact over the first KNN_GRAPH_N
    vectors — 250k scored pairs regardless of SF, so the oracle is
    static. At 100 TB the SAME mutual join runs over ANN-candidate
    top-K lists instead (similarity_ivf_topk / similarity_lsh_topk
    produce exactly the directed (src, dst, cosine, rk) shape this
    consumes), making the exact scorer here the drop-in verifier.

    Plan: the scored self-join broadcasts the K×-smaller query side,
    directed top-K via the shared two-phase ``_topk`` (map-side
    local heaps, then the exact window), and the mutual check is a
    self-join of the directed edge list on the swapped key — edge
    lists are N·K rows, so that join is candidate-sized, never
    corpus-sized."""
    emb = (
        load_table(spark, sf_dir, "embeddings", parallelize=True)
        .filter(F.col("vec_id") < KNN_GRAPH_N)
        .select("vec_id", _as_double_vec(F.col("embedding")).alias("vec"))
    )
    left = emb.select(F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec"))
    scored = emb.join(
        F.broadcast(left), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(_cosine(F.col("qvec"), F.col("vec")), 6).alias("cosine"),
    )
    directed = (
        _topk(scored, KNN_GRAPH_K)
        .select(
            F.col("query_id").alias("src"),
            F.col("neighbor_id").alias("dst"),
            "cosine",
        )
        # materialize the N·K edge list so the mutual self-join reads
        # it twice instead of re-running the full scoring pipeline
        # for the reversed side
        .localCheckpoint(eager=True)
    )
    rev = directed.select(
        F.col("src").alias("r_dst"), F.col("dst").alias("r_src")
    )
    return (
        directed.join(
            # N·K rows — broadcastable by construction at any corpus
            # size that fits a per-node top-K edge list
            F.broadcast(rev),
            (F.col("src") == F.col("r_src")) & (F.col("dst") == F.col("r_dst")),
        )
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"), "cosine")
    )


# ---- maximal marginal relevance ---------------------------------------------
MMR_K = 5
MMR_SHORTLIST = 20  # relevance shortlist the reranker diversifies


def similarity_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware top-k: maximal marginal relevance (Carbonell
    & Goldstein 1998) at lambda = 1/2 over the exact-cosine
    shortlist — pick the most relevant candidate first, then
    repeatedly the one maximizing relevance MINUS similarity to the
    already-picked set. The rerank a retrieval pipeline runs so
    near-duplicate passages don't fill the whole context window.

    Determinism: relevance and candidate-pair similarities are the
    repo's engine-exact rounded cosines; lambda = 1/2 makes the
    selection score 0.5*rel - 0.5*max_sim — two exact dyadic
    products and one subtraction, so the per-step argmax (ties to
    the lower neighbor_id) is bit-stable in any engine. The DuckDB
    oracle unrolls the same K selection stages.

    Scale shape: the corpus-sized work is exactly the brute scorer's
    (one broadcast-query pass + local top-k cut); everything after
    operates on |Q| x SHORTLIST rows — pair sims are
    |Q| x SHORTLIST^2 (bounded), and each of the K-1 selection
    steps is a bounded-frame argmax with a localCheckpoint keeping
    the loop lineage flat. Swap the brute shortlist for the IVFPQ
    shortlist at 100 TB; the MMR stage is shortlist-bounded either
    way."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", _as_double_vec(F.col("embedding")).alias("vec")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    scored = emb.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(_cosine(F.col("qvec"), F.col("vec")), 6).alias("cosine"),
    )
    sl = (
        _topk(scored, MMR_SHORTLIST)
        .withColumnRenamed("cosine", "rel")
        .join(
            emb.select(F.col("vec_id").alias("neighbor_id"), "vec"),
            "neighbor_id",
        )
        .localCheckpoint(eager=True)  # |Q| x SHORTLIST rows
    )
    s2 = sl.select(
        "query_id",
        F.col("neighbor_id").alias("b"),
        F.col("vec").alias("bvec"),
    )
    sims = (
        sl.select(
            "query_id", F.col("neighbor_id").alias("a"), "vec"
        )
        .join(F.broadcast(s2), "query_id")  # |Q|·SHORTLIST rows
        .filter(F.col("a") != F.col("b"))
        .select(
            "query_id",
            "a",
            "b",
            F.round(_cosine(F.col("vec"), F.col("bvec")), 6).alias("sim"),
        )
    )
    # r14: the K-1 selection rounds ran as separate checkpointed
    # join+window pipelines (~57 AQE jobs for K = 5); the state they
    # iterate over is |Q|·SHORTLIST(²)-bounded BY CONSTRUCTION, so
    # the whole greedy program runs in-row per query instead — one
    # groupBy packs (rk, neighbor_id, rel) and the pair sims into
    # arrays, and ONE aggregate over sequence(2, K) replays the
    # exact selection recurrence. Per step, each unselected
    # candidate's ms is max sim against the selected set and the
    # pick is the (score DESC, neighbor_id ASC) argmin of the
    # negated-score struct — array_min's double ordering is the
    # same total order the old window's SortOrder used (negation
    # reverses it exactly, ±0.0 included), so every pick — hence
    # every emitted row — is identical to the loop's. The corpus-
    # sized work (the scorer + local top-k) is untouched.
    cands_arr = sl.groupBy("query_id").agg(
        F.array_sort(
            F.collect_list(F.struct("rk", "neighbor_id", "rel"))
        ).alias("cands")
    )
    sims_arr = sims.groupBy("query_id").agg(
        F.collect_list(F.struct("a", "b", "sim")).alias("sims")
    )
    # left join + empty-array coalesce (ADVICE r14): a degenerate
    # shortlist with exactly ONE candidate produces zero a!=b sim
    # pairs, so an inner join would silently drop the query's rank-1
    # row; the old loop emitted it. Unreachable on current fixtures
    # (corpus >> 2) but the behavior contract should not depend on
    # corpus size.
    packed = cands_arr.join(
        F.broadcast(sims_arr), "query_id", "left"
    ).withColumn(
        "sims",
        F.coalesce(
            F.col("sims"),
            F.array().cast("array<struct<a:bigint,b:bigint,sim:double>>"),
        ),
    )

    def _step(acc, i):
        open_c = F.filter(
            F.col("cands"),
            lambda c: ~F.array_contains(acc["sel"], c["neighbor_id"]),
        )
        scored_c = F.transform(
            open_c,
            lambda c: F.struct(
                (
                    -(
                        F.lit(0.5) * c["rel"]
                        - F.lit(0.5)
                        * F.array_max(
                            F.transform(
                                F.filter(
                                    F.col("sims"),
                                    lambda s: (s["a"] == c["neighbor_id"])
                                    & F.array_contains(acc["sel"], s["b"]),
                                ),
                                lambda s: s["sim"],
                            )
                        )
                    )
                ).alias("neg_score"),
                c["neighbor_id"].alias("neighbor_id"),
                c["rel"].alias("rel"),
            ),
        )
        best = F.array_min(scored_c)
        # the accumulator carries (rank, id, rel, score, sel-at-pick):
        # score = -neg_score is the identical double negated back;
        # ms is re-derived at emit time from sel_at so the argmax
        # state stays narrow
        new_sel = F.concat(acc["sel"], F.array(best["neighbor_id"]))
        new_out = F.concat(
            acc["out"],
            F.array(
                F.struct(
                    i.cast("int").alias("rank"),
                    best["neighbor_id"].alias("neighbor_id"),
                    best["rel"].alias("rel"),
                    (-best["neg_score"]).alias("score"),
                    acc["sel"].alias("sel_at"),
                )
            ),
        )
        return F.when(
            F.size(open_c) > 0,
            F.struct(new_sel.alias("sel"), new_out.alias("out")),
        ).otherwise(acc)

    first = F.element_at(F.col("cands"), 1)
    acc0 = F.struct(
        F.array(first["neighbor_id"]).alias("sel"),
        F.array()
        .cast(
            "array<struct<rank:int,neighbor_id:bigint,rel:double,"
            "score:double,sel_at:array<bigint>>>"
        )
        .alias("out"),
    )
    prog = packed.select(
        "query_id",
        "cands",
        "sims",
        F.aggregate(
            F.sequence(F.lit(2), F.lit(MMR_K)), acc0, _step
        ).alias("fin"),
    )
    rank1 = prog.select(
        "query_id",
        F.lit(1).alias("rank"),
        first["neighbor_id"].alias("neighbor_id"),
        first["rel"].alias("rel"),
        F.lit(None).cast("double").alias("max_sim_selected"),
        F.lit(None).cast("double").alias("mmr_score"),
    )
    rest = prog.select(
        "query_id", "sims", F.explode(F.col("fin")["out"]).alias("o")
    ).select(
        "query_id",
        F.col("o.rank").alias("rank"),
        F.col("o.neighbor_id").alias("neighbor_id"),
        F.col("o.rel").alias("rel"),
        F.array_max(
            F.transform(
                F.filter(
                    F.col("sims"),
                    lambda s: (s["a"] == F.col("o.neighbor_id"))
                    & F.array_contains(F.col("o.sel_at"), s["b"]),
                ),
                lambda s: s["sim"],
            )
        ).alias("max_sim_selected"),
        F.round(F.col("o.score"), 6).alias("mmr_score"),
    )
    return rank1.unionByName(rest)


# ---- contrastive hard-negative mining ---------------------------------------
HARD_NEG_K = 5


def similarity_hard_negatives(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-k most-similar vectors with a DIFFERENT label —
    the negatives that actually teach an embedding model (random
    negatives are trivially separable; in-batch negatives miss the
    near-boundary cases). The margin column (query's own-label best
    similarity minus the negative's) measures how hard each negative
    is: near-zero or negative margin = boundary case.

    Plan: the brute scorer's single broadcast-query corpus pass with
    the label inequality fused into the join condition (no second
    pass for the filter); the positive-best side is the SAME scored
    pass filtered to equal labels, cut to 1 row per query — both
    sides reuse one scoring subtree at fixture scale, and the local
    top-k cut keeps the shuffle at |Q|·partitions·k rows (the
    similarity_topk two-phase argument). Swap in the IVFPQ shortlist
    at 100 TB, as with MMR."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", "label", _as_double_vec(F.col("embedding")).alias("vec")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("vec").alias("qvec"),
    )
    scored = emb.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "qlabel",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.round(_cosine(F.col("qvec"), F.col("vec")), 6).alias("cosine"),
    ).localCheckpoint(eager=True)
    negs = _topk(
        scored.filter(F.col("neighbor_label") != F.col("qlabel")).select(
            "query_id", "neighbor_id", "cosine"
        ),
        HARD_NEG_K,
    )
    best_pos = (
        scored.filter(F.col("neighbor_label") == F.col("qlabel"))
        .groupBy("query_id")
        .agg(F.max("cosine").alias("best_pos_cosine"))
    )
    labels = scored.select("query_id", "qlabel").distinct()
    neg_labels = scored.select(
        "query_id",
        F.col("neighbor_id"),
        F.col("neighbor_label"),
    )
    return (
        negs.join(F.broadcast(labels), "query_id")
        .join(F.broadcast(neg_labels), ["query_id", "neighbor_id"])
        .join(F.broadcast(best_pos), "query_id", "left")
        .select(
            "query_id",
            "qlabel",
            "rk",
            "neighbor_id",
            "neighbor_label",
            "cosine",
            "best_pos_cosine",
            F.round(
                F.col("best_pos_cosine") - F.col("cosine"), 6
            ).alias("margin"),
        )
    )


# ---- nearest-centroid classifier eval ----------------------------------------


def embedding_centroid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-class-centroid classifier evaluation (Rocchio):
    per-label centroids from the labeled embedding store, every
    vector assigned to its max-cosine centroid, and the confusion
    grid (true x predicted, count + share of the true class) — the
    embedding-quality scorecard a labeling pipeline reads before
    trusting the space for clustering or retrieval.

    Determinism: centroids use the kmeans FIXED-POINT per-dimension
    mean (coords rounded to 1e-6, summed as BIGINT — order-free, so
    Spark's distributed sum and the oracle's sequential sum agree
    bit-for-bit); assignment is the usual max-cosine argmax with the
    lower-label tie-break; the share is one IEEE division of exact
    ints, round(6).

    Plan: one (label, dim) hash-agg builds the centroids
    (|labels| x dim rows — broadcast model state), one broadcast
    cross assign pass over the corpus, one |labels|²-bounded grid
    agg. Corpus touched twice (mean + assign) — the same two passes
    any centroid classifier needs."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", "label", _as_double_vec(F.col("embedding")).alias("vec")
    )
    dims = emb.select("label", F.posexplode("vec").alias("pos", "x"))
    mean = (F.col("sx").cast("double") / F.col("n")) / F.lit(1_000_000.0)
    cent = (
        dims.groupBy("label", "pos")
        .agg(
            F.sum(
                F.round(F.col("x") * F.lit(1_000_000.0)).cast("long")
            ).alias("sx"),
            F.count("*").alias("n"),
        )
        .select("label", "pos", mean.alias("m"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s.m,
            ).alias("cvec")
        )
        .select(F.col("label").alias("cent_label"), "cvec")
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cos"), F.asc("cent_label")
    )
    assigned = (
        emb.join(F.broadcast(cent), how="cross")
        .select(
            "vec_id",
            "label",
            "cent_label",
            _cosine(F.col("vec"), F.col("cvec")).alias("cos"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
    )
    grid = assigned.groupBy(
        F.col("label").alias("true_label"),
        F.col("cent_label").alias("pred_label"),
    ).agg(F.count("*").cast("long").alias("n_vectors"))
    wt = Window.partitionBy("true_label")
    return grid.select(
        "true_label",
        "pred_label",
        "n_vectors",
        F.round(
            F.col("n_vectors") / F.sum("n_vectors").over(wt), 6
        ).alias("share_of_true"),
    )


# ---- round-6: greedy k-center coreset ---------------------------------------
CORESET_K = 8


def sample_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset over the embedding store (Gonzalez
    1985, the 2-approximation farthest-point heuristic): iteratively
    pick the vector FARTHEST (cosine distance) from the chosen set —
    the maximally-diverse seed subset a curation pipeline uses for
    eval panels, labeling budgets, and cluster initialization
    (k-center beats random sampling exactly when the corpus is
    clustered: every mode gets covered). Output: one row per chosen
    center with its selection round and coverage radius — the
    max-min distance at selection time, the classic k-center quality
    certificate (radius after round k bounds every point's distance
    to its nearest center).

    Determinism: distances are round(1 − cosine, 6) with the strict
    left-fold dot both engines share; argmax ties break on vec_id.
    The seed is the minimum vec_id (arbitrary-start is the
    algorithm's contract; pinning it makes the run reproducible).

    Scale shape: k passes over the corpus, each a NARROW map
    (distance to ONE new broadcast-literal center + LEAST with the
    carried min-distance column) followed by a TakeOrdered(1)
    argmax — no shuffle except the 1-row cut; the min-distance
    frame is localCheckpointed per round so round i never replays
    rounds 0..i−1 (the iterative-algorithm contract used by
    pagerank/k-core). Per-round driver state is ONE row (the new
    center) — bounded model state. Reference analogue: none —
    extension surface."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", _as_double_vec(F.col("embedding")).alias("vec")
    )
    seed = emb.orderBy("vec_id").limit(1).collect()[0]
    chosen = [(0, int(seed["vec_id"]), None)]

    def dist_to(center_vec):
        lit = _dlit_array(tuple(center_vec))
        return F.round(F.lit(1.0) - _cosine(F.col("vec"), lit), 6)

    # eager localCheckpoint per round: a fresh-JVM A/B
    # (AB_KERNEL_r15.json) measured it at 1.80 s against 1.91 s for
    # persist() — the in-memory COLUMNAR cache (de)serializes the
    # 64-double vec array per round, which costs more than the
    # checkpoint job it saves — and 2.37 s for recomputing k
    # growing-LEAST scans with no materialization.
    mind = emb.select(
        "vec_id", "vec", dist_to(seed["vec"]).alias("mind")
    ).localCheckpoint(eager=True)
    for rnd in range(1, CORESET_K):
        nxt = (
            mind.orderBy(F.desc("mind"), F.asc("vec_id")).limit(1).collect()
        )[0]
        chosen.append((rnd, int(nxt["vec_id"]), float(nxt["mind"])))
        mind = mind.select(
            "vec_id",
            "vec",
            F.least(F.col("mind"), dist_to(nxt["vec"])).alias("mind"),
        ).localCheckpoint(eager=True)
    return spark.createDataFrame(
        chosen, "sel_round int, vec_id long, coverage_radius double"
    ).orderBy("sel_round")


DIM_CORR_TOP_K = 20  # reported most-|corr| dimension pairs
DIM_Q_SCALE = 1_000_000  # fixed-point quantum for exact dim moments


def _dim_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, dim, q) — one row per embedding coordinate with the
    value quantized to ``round(x * 1e6)`` as int64. Quantization
    happens per ROW (deterministic: float32 → double promotion and
    one half-even round are identical in every engine), so every
    downstream SUM folds exact integers — order-independent, which
    is what makes corpus-level float statistics hash-checkable."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.posexplode(_as_double_vec(F.col("embedding"))).alias(
            "dim", "x"
        ),
    ).select(
        "vec_id",
        "dim",
        F.round(F.col("x") * DIM_Q_SCALE).cast("long").alias("q"),
    )


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension diagnostics of the embedding corpus: mean, std,
    min, max, and dead-coordinate fraction per dimension — the
    pre-indexing screen that catches collapsed dimensions (zero
    variance → wasted index bits), unnormalized scales, and dead
    units before an ANN index or a whitening transform is trained.

    Exactness: moments fold over the per-row fixed-point
    quantization of :func:`_dim_quantized` (decimal(38,0) sums —
    q² ≲ 10¹² per row, so int64 wraps near 10⁷ rows/dim), then ONE
    double expression per statistic, identical tree in the oracle.
    Plan: posexplode is a narrow ×d map over the scan; the fold is
    a single dim-keyed exchange to d rows. At 100 TB this is scan
    speed + one tiny shuffle."""
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    q = F.col("q")
    agg = _dim_quantized(spark, sf_dir).groupBy("dim").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(dec(q)).alias("sq"),
        F.sum(dec(q) * dec(q)).alias("sqq"),
        F.min("q").alias("qmin"),
        F.max("q").alias("qmax"),
        F.sum(F.when(q == 0, 1).otherwise(0)).cast("long").alias("nz"),
    )
    n, sq, sqq = (
        F.col(c).cast("double") for c in ("n", "sq", "sqq")
    )
    scale = F.lit(float(DIM_Q_SCALE))
    return agg.select(
        "dim",
        "n",
        F.round(sq / n / scale, 6).alias("mean"),
        F.round(
            F.sqrt((n * sqq - sq * sq) / (n * n)) / scale, 6
        ).alias("std"),
        F.round(F.col("qmin") / scale, 6).alias("min_val"),
        F.round(F.col("qmax") / scale, 6).alias("max_val"),
        F.round(F.col("nz").cast("double") / n, 6).alias("zero_frac"),
    ).orderBy("dim")


GRAM_CHUNK_ROWS = 512  # float64 matmul chunk: 512·(3e6)² < 2^53


def _gram_upper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT upper-triangular Gram matrix (dim_a ≤ dim_b, Σ qᵃ·qᵇ)
    of the quantized embedding corpus as a (da, db, spq) frame —
    the shared moment base of the dimension-pair diagnostics.

    This is the Arrow fast path done exactly: each `mapInPandas`
    batch quantizes with the SAME half-away-from-zero double round
    as :func:`_dim_quantized`, then folds Qᵀ·Q in float64 matmuls
    of ``GRAM_CHUNK_ROWS``-row chunks — every product ≤ (3·10⁶)² ≈
    9·10¹² and every chunk sum ≤ 512·9·10¹² < 2⁵³, so the float
    arithmetic is EXACT — accumulated into an int64 matrix (batch
    bound ~10⁴ rows → ≤ 10¹⁷ per cell, int64-safe) and emitted as
    d(d+1)/2 partial rows per batch. Spark then sums partials in
    decimal(38,0) — one tiny exchange on the 2080-row key space.
    Versus the vec_id coordinate self-join this removes the n·d-row
    checkpoint and the 10⁹-row join entirely: measured 43.3 s →
    5.5 s at the 10× corpus (exponent 0.96 → 0.31)."""
    d = int(
        load_table(spark, sf_dir, "embeddings")
        .select(F.size("embedding"))
        .first()[0]
    )

    def part(batches):
        import numpy as np
        import pandas as pd

        iu = np.triu_indices(d)
        pos = np.arange(iu[0].size, dtype=np.int32)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = (
                np.stack(pdf["embedding"].values).astype(np.float64)
                * DIM_Q_SCALE
            )
            q = np.where(v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5))
            g = np.zeros((d, d), dtype=np.int64)
            for i in range(0, q.shape[0], GRAM_CHUNK_ROWS):
                c = q[i : i + GRAM_CHUNK_ROWS]
                g += (c.T @ c).astype(np.int64)
            yield pd.DataFrame({"pos": pos, "psum": g[iu]})

    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    tot = (
        emb.mapInPandas(part, "pos int, psum long")
        .groupBy("pos")
        .agg(
            F.sum(F.col("psum").cast("decimal(38,0)")).alias("spq")
        )
    )
    import numpy as np

    iu = np.triu_indices(d)
    mapping = spark.createDataFrame(
        [
            (int(k), int(a), int(b))
            for k, (a, b) in enumerate(zip(*iu))
        ],
        "pos int, da int, db int",
    )
    return tot.join(F.broadcast(mapping), "pos").select(
        "da", "db", "spq"
    )


def embedding_dim_corr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``DIM_CORR_TOP_K`` most-correlated (by |Pearson r|)
    dimension PAIRS of the embedding corpus — the redundancy screen
    run before choosing PQ subspace splits or deciding a whitening
    transform is worth it (highly correlated coordinates waste
    quantizer capacity; PQ subspaces should cut across them).

    Shape: the :func:`_gram_upper` Arrow fold carries ALL the
    pairwise moments (sxy = G[a,b], sxx/syy = the diagonal) and the
    tiny per-dim agg the rest (n, Σq), so after one scan every
    downstream table is d- or d²-bounded and joins broadcast; top-k
    rides TakeOrderedAndProject on (|r| DESC, dim_a, dim_b) —
    doubles computed from identical exact integers order
    identically in every engine. Same exact-moment contract as
    :func:`embedding_dim_stats`."""
    g = _gram_upper(spark, sf_dir).localCheckpoint(eager=True)
    dims = (
        _dim_quantized(spark, sf_dir)
        .groupBy("dim")
        .agg(
            F.count("*").cast("long").alias("n_v"),
            F.sum(F.col("q").cast("decimal(38,0)")).alias("s"),
        )
    )
    diag = g.filter("da = db").select(
        F.col("da").alias("dim"), F.col("spq").alias("ss")
    )
    dimstats = dims.join(F.broadcast(diag), "dim")
    a = dimstats.select(
        F.col("dim").alias("da"),
        "n_v",
        F.col("s").alias("sx"),
        F.col("ss").alias("sxx"),
    )
    b = dimstats.select(
        F.col("dim").alias("db"),
        F.col("s").alias("sy"),
        F.col("ss").alias("syy"),
    )
    mom = (
        g.filter("da < db")
        .join(F.broadcast(a), "da")
        .join(F.broadcast(b), "db")
    )
    n, sx, sy, sxy, sxx, syy = (
        F.col(c).cast("double")
        for c in ("n_v", "sx", "sy", "spq", "sxx", "syy")
    )
    denom = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    corr = F.when(denom > 0, (n * sxy - sx * sy) / denom)
    return (
        mom.select(
            F.col("da").alias("dim_a"),
            F.col("db").alias("dim_b"),
            F.col("n_v").alias("n_vectors"),
            F.round(corr, 6).alias("dim_corr"),
            F.round(F.abs(corr), 6).alias("abs_corr"),
        )
        .orderBy(F.col("abs_corr").desc(), "dim_a", "dim_b")
        .limit(DIM_CORR_TOP_K)
    )


def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm profile of the embedding corpus: count,
    mean/std/median, and extremes of the vector norms — the
    pre-ANN screen that decides whether cosine and dot-product
    ranking will disagree (tight norm spread → they coincide; a
    fat spread or a zero-norm class → normalize first or expect
    MIPS-vs-cosine drift), and catches degenerate classes before
    index training.

    Engine-exact: each coordinate quantizes per row to
    ``round(x·1e6)`` int64 (the embedding_dim_stats contract), so
    ‖v‖² folds as an EXACT in-row integer (d = 64, q² ≤ ~10¹² →
    Σ ≤ 10¹⁴, int64-safe); the norm then takes ONE correctly-
    rounded sqrt of that exact integer and re-quantizes,
    ``round(sqrt(Σq²))`` — after which every corpus statistic
    (decimal moment folds, exact interpolated median) runs on
    exact int64s, order-independent in every engine.

    Plan: the fold is in-row over the array column (no explode —
    narrow scan), one label-keyed exchange to ≤|labels| rows; the
    exact median's per-group sort rides the same exchange. Scan
    speed + one tiny shuffle at any corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    q2 = F.aggregate(
        F.transform(
            _as_double_vec(F.col("embedding")),
            lambda x: F.round(x * DIM_Q_SCALE).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, q: acc + q * q,
    )
    qn = F.round(F.sqrt(q2.cast("double"))).cast("long")
    base = emb.select("label", qn.alias("qn"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    v = F.col("qn")
    agg = base.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.sum(dec(v)).alias("s"),
        F.sum(dec(v) * dec(v)).alias("ss"),
        F.min("qn").alias("qmin"),
        F.max("qn").alias("qmax"),
        F.percentile("qn", F.lit(0.5)).alias("qmed"),
    )
    n, s, ss = (F.col(c).cast("double") for c in ("n_vecs", "s", "ss"))
    scale = F.lit(float(DIM_Q_SCALE))
    return agg.select(
        "label",
        "n_vecs",
        F.round(s / n / scale, 6).alias("mean_norm"),
        F.round(
            F.sqrt((n * ss - s * s) / (n * n)) / scale, 6
        ).alias("std_norm"),
        F.round(F.col("qmin") / scale, 6).alias("min_norm"),
        F.round(F.col("qmax") / scale, 6).alias("max_norm"),
        F.round(F.col("qmed") / scale, 6).alias("med_norm"),
    ).orderBy("label")


PCA_TOP_K = 16  # reported leading eigenvalues
PCA_JACOBI_SWEEPS = 12  # fixed cyclic sweeps (64x64 converges < 10)


def _jacobi_eigenvalues(a: list[list[float]], sweeps: int) -> list[float]:
    """Eigenvalues of a symmetric matrix by FIXED-COUNT cyclic
    Jacobi rotations — no LAPACK, so the result is a deterministic
    function of the input floats on any platform (the same reason
    k-means and BPE train with fixed-point arithmetic: reproducible
    model state). Cyclic-by-row Jacobi converges quadratically;
    ``sweeps`` is a fixed bound, not a data-dependent stop.

    The two rotation loops are numpy-vectorized (r14): each element
    update ``c*a[k][p] - s*a[k][q]`` is the identical scalar IEEE
    multiply/subtract whether issued by the interpreter or by a
    numpy ufunc over the column, so the eigenvalues are bit-for-bit
    the ones the pure-python loops produced — but the driver-side
    cost drops from ~6M interpreted iterations (sweeps·d²/2
    rotations × 4d element ops ≈ 2 s at d = 64) to sweeps·d²/2
    small vector ops. The scalar rotation parameters (theta, t, c,
    s) stay in python floats, preserving their exact sequence."""
    import numpy as np

    n = len(a)
    m = np.array(a, dtype=np.float64)
    for _ in range(sweeps):
        for p in range(n - 1):
            for q in range(p + 1, n):
                apq = float(m[p, q])
                if apq == 0.0:
                    continue
                theta = (float(m[q, q]) - float(m[p, p])) / (2.0 * apq)
                t = (1.0 if theta >= 0 else -1.0) / (
                    abs(theta) + math.sqrt(theta * theta + 1.0)
                )
                c = 1.0 / math.sqrt(t * t + 1.0)
                s = t * c
                akp = m[:, p].copy()
                akq = m[:, q].copy()
                m[:, p] = c * akp - s * akq
                m[:, q] = s * akp + c * akq
                apk = m[p, :].copy()
                aqk = m[q, :].copy()
                m[p, :] = c * apk - s * aqk
                m[q, :] = s * apk + c * aqk
    return [float(m[i, i]) for i in range(n)]


def _pca_spectrum(
    spark: SparkSession, sf_dir: str
) -> tuple[int, int, list[float]]:
    """(n_vectors, n_dims, eigenvalues sorted descending) of the
    embedding covariance: exact decimal moment folds (the
    embedding_dim_stats quantization + the shared Arrow Gram fold),
    then the fixed-sweep Jacobi eigensolve driver-side on the d×d
    matrix — bounded model state (the k-means-centroid precedent).
    Shared by :func:`embedding_pca_topvar` (the spectrum view) and
    :func:`embedding_pca_invariants` (the hash-checkable gate);
    cached per (session, corpus fingerprint) like every other
    trained-model artifact: without the cache each query re-paid the
    corpus-sized Gram fold AND the driver-side eigensolve."""
    return session_cached(
        spark, sf_dir, ("embeddings",), "pca_spectrum",
        lambda _fp: _pca_spectrum_build(spark, sf_dir),
    )


def _pca_spectrum_build(
    spark: SparkSession, sf_dir: str
) -> tuple[int, int, list[float]]:
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    dims = (
        _dim_quantized(spark, sf_dir)
        .groupBy("dim")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(dec(F.col("q"))).alias("s"),
        )
    )
    mom = _gram_upper(spark, sf_dir)  # the shared Arrow Gram fold
    dim_rows = dims.collect()  # bounded: d rows
    mom_rows = mom.collect()  # bounded: d(d+1)/2 rows
    n = dim_rows[0]["n"]
    d = len(dim_rows)
    s = {r["dim"]: int(r["s"]) for r in dim_rows}
    cov = [[0.0] * d for _ in range(d)]
    scale2 = float(DIM_Q_SCALE) * float(DIM_Q_SCALE)
    for r in mom_rows:
        i, j = r["da"], r["db"]
        c = (n * int(r["spq"]) - s[i] * s[j]) / (
            float(n) * float(n) * scale2
        )
        cov[i][j] = c
        cov[j][i] = c
    eig = sorted(
        _jacobi_eigenvalues(cov, PCA_JACOBI_SWEEPS), reverse=True
    )
    return n, d, eig


def embedding_pca_topvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading ``PCA_TOP_K`` eigenvalues of the embedding covariance
    with explained-variance ratios — the spectrum screen that
    decides whether whitening or dimensionality reduction pays
    before ANN index training (a spectrum where 16 of 64 components
    carry ~all variance says: rotate/truncate first; a flat one
    says the coordinates are already efficient), complementing
    embedding_dim_corr_topk's pairwise view with the global one.

    Distribution of work: the ONLY corpus-sized stage is the exact
    covariance moment fold — per-row fixed-point quantization (the
    embedding_dim_stats contract) then one (dim_a ≤ dim_b) exchange
    to d(d+1)/2 = 2080 exact integer rows. The eigensolve runs
    driver-side on the d×d matrix — BOUNDED MODEL STATE (64×64,
    the k-means-centroid precedent), via fixed-sweep cyclic Jacobi
    (pure python, no LAPACK) so the spectrum is a deterministic
    function of the exact moments. No DuckDB twin exists for an
    eigensolve, so this entry is rows-only at the driver gate; the
    pytest twin cross-checks against an independent numpy
    ``eigvalsh`` and asserts the exact trace identity
    Σ eigenvalues = Σ per-dim variances.

    Cites reference semantics: embedding hygiene ahead of the ANN
    family (SURVEY §2.12)."""
    n, _d, eig = _pca_spectrum(spark, sf_dir)
    total = sum(eig)
    out, cum = [], 0.0
    for rank, ev in enumerate(eig[:PCA_TOP_K], start=1):
        ratio = ev / total if total > 0 else None
        cum += ratio or 0.0
        out.append(
            (
                rank,
                n,
                round(ev, 9),
                round(ratio, 6) if ratio is not None else None,
                round(cum, 6) if ratio is not None else None,
            )
        )
    return spark.createDataFrame(
        out,
        "component int, n_vectors long, eigenvalue double, "
        "explained_ratio double, cumulative_ratio double",
    ).orderBy("component")


PCA_TRACE_TOL = 1e-6  # |Σ eig − trace| gate (per-dim 1e-9 rounding
#                       accumulates ≤ d·5e-10; Jacobi drift ≪ 1e-12)


def embedding_pca_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable gate for the driver-side eigensolve (VERDICT
    r7 #9): the full `embedding_pca_topvar` spectrum can never be
    value-hashed cross-engine (no SQL eigensolve exists), but its
    EXACT INVARIANTS can — this one-row companion query upgrades the
    eigensolve from rows-only to value-gated:

    - ``trace_fp``: Σ per-dim covariance variances in 1e-9 fixed
      point, folded SPARK-SIDE with the identical double tree the
      DuckDB oracle runs (the embedding_dim_stats moment recipe) —
      a pure SQL quantity, hash-exact;
    - ``eig_sum_matches_trace``: the eigensolve conservation law
      Σ eigenvalues = trace(cov), checked driver-side at
      ``PCA_TRACE_TOL`` and emitted as a boolean the oracle expects
      TRUE — a broken Jacobi (wrong rotation, dropped sweep, bad
      moment wiring) shifts Σ eig and flips the bit, failing the
      value hash;
    - ``eig_descending`` / ``eig_nonneg``: sort contract and
      positive-semidefiniteness (covariances are PSD; a negative
      eigenvalue beyond float noise means a broken fold).

    The eigensolve itself stays driver-side on the d×d moment
    matrix (bounded model state); everything corpus-sized here is
    the same one-exchange moment fold dim_stats runs."""
    n, d, eig = _pca_spectrum(spark, sf_dir)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    q = F.col("q")
    agg = _dim_quantized(spark, sf_dir).groupBy("dim").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(dec(q)).alias("sq"),
        F.sum(dec(q) * dec(q)).alias("sqq"),
    )
    nd, sqd, sqqd = (
        F.col(c).cast("double") for c in ("n", "sq", "sqq")
    )
    scale2 = F.lit(float(DIM_Q_SCALE) * float(DIM_Q_SCALE))
    var = (nd * sqqd - sqd * sqd) / (nd * nd) / scale2
    tr = (
        agg.select(
            F.round(var * F.lit(1e9)).cast("long").alias("var_fp")
        )
        .agg(F.sum("var_fp").alias("trace_fp"))
        .collect()[0]
    )
    trace_fp = int(tr["trace_fp"])
    sum_eig = sum(eig)
    row = (
        n,
        d,
        PCA_TOP_K,
        trace_fp,
        bool(abs(sum_eig - trace_fp / 1e9) <= PCA_TRACE_TOL),
        bool(
            all(eig[i] >= eig[i + 1] for i in range(len(eig) - 1))
        ),
        bool(min(eig) >= -1e-9),
    )
    return spark.createDataFrame(
        [row],
        "n_vectors long, n_dims int, n_components int, "
        "trace_fp long, eig_sum_matches_trace boolean, "
        "eig_descending boolean, eig_nonneg boolean",
    )


# ---- Matryoshka truncation eval (round 7) -----------------------------------
MATRYOSHKA_DIMS = (8, 16, 32)


def embedding_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation eval (Kusupati et al. 2022,
    arXiv:2205.13147): how much of the FULL-dimension top-k survives
    when retrieval runs on a prefix of the embedding (8/16/32 of 64
    dims) — the table a pipeline reads before committing to
    truncated vectors for the cheap first-stage scan (prefix dims
    cut ADC/scan cost proportionally; this measures the recall
    price). Output: one row per (dims, query) with the overlap
    count/fraction against the 64-dim top-k.

    Exactness: each truncated pass is the `similarity_topk` recipe
    verbatim on `slice(vec, 1, d)` — same rounded-6dp cosine, same
    (cosine DESC, neighbor ASC) total order — so both engines pick
    identical top-k sets and the overlap counts are exact integers.

    Scale shape: (1 + |dims|) brute-force scored passes, each the
    broadcast-query shape with local top-k reduction (`_topk`'s
    partition-local phase) — no pairwise joins; overlaps are
    |Q|·k-row broadcast joins."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", _as_double_vec(F.col("embedding")).alias("vec")
    )
    # ONE scored pass for every prefix level (r14 — the per-level
    # loop ran (1 + |dims|) separate scan→local-topk→window
    # pipelines, ~27 AQE jobs): each (query, neighbor) pair row
    # emits one (dims, cosine) struct per level using the IDENTICAL
    # slice-fold expressions the per-level passes ran — same
    # left-fold, same round(6) — then a single local-topk + window
    # partitioned by (dims, query_id) ranks all levels at once.
    # Values are unchanged by construction; only the pipeline count
    # drops (one scan, two exchanges total).
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    levels = list(MATRYOSHKA_DIMS) + [EMBED_DIM]

    def _cos_at(d: int):
        return F.round(
            _cosine(
                F.slice(F.col("qvec"), 1, d), F.slice(F.col("vec"), 1, d)
            ),
            6,
        )

    lv = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(d).cast("int").alias("dims"),
                    _cos_at(d).alias("cosine"),
                )
                for d in levels
            ]
        )
    )
    scored = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), lv.alias("l")
        )
        .select("query_id", "neighbor_id", "l.dims", "l.cosine")
    )
    local = (
        scored.withColumn("_pid", F.spark_partition_id())
        .groupBy("dims", "query_id", "_pid")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("cosine"), F.col("neighbor_id"))
                    ),
                    lambda a, b: F.when(a.cosine > b.cosine, -1)
                    .when(a.cosine < b.cosine, 1)
                    .when(a.neighbor_id < b.neighbor_id, -1)
                    .when(a.neighbor_id > b.neighbor_id, 1)
                    .otherwise(0),
                ),
                1,
                TOP_K,
            ).alias("top")
        )
        .select("dims", "query_id", F.explode_outer("top").alias("t"))
        .select("dims", "query_id", F.col("t.neighbor_id").alias("neighbor_id"),
                F.col("t.cosine").alias("cosine"))
    )
    w = Window.partitionBy("dims", "query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    topk_all = (
        local.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("dims", "query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    full = topk_all.filter(F.col("dims") == EMBED_DIM).select(
        "query_id", "neighbor_id"
    )
    queries = full.select("query_id").distinct()
    hits = (
        topk_all.filter(F.col("dims") != EMBED_DIM)
        .join(F.broadcast(full), ["query_id", "neighbor_id"])
        .groupBy("dims", "query_id")
        .agg(F.count("*").cast("long").alias("n_overlap"))
    )
    spine = queries.crossJoin(
        F.broadcast(
            spark.createDataFrame(
                [(int(d),) for d in MATRYOSHKA_DIMS], "dims int"
            )
        )
    )
    return (
        spine.join(F.broadcast(hits), ["dims", "query_id"], "left")
        .select(
            "dims",
            "query_id",
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
        )
        .select(
            "dims",
            "query_id",
            "n_overlap",
            F.round(F.col("n_overlap") / F.lit(float(TOP_K)), 6).alias(
                "overlap"
            ),
        )
        .orderBy("dims", "query_id")
    )


# ---- hybrid retrieval: reciprocal-rank fusion (VERDICT r7 #3) ---------------
RRF_K = 60             # the standard RRF damping constant
RRF_DENSE_POOL = 20    # per-query dense shortlist length
RRF_SPARSE_POOL = 50   # global BM25 keyword shortlist length
RRF_TOP = 10           # fused results reported per query


def similarity_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (Cormack et al.,
    SIGIR 2009) — the production composition every RAG/curation
    pipeline runs: a sparse keyword ranking and a dense vector
    ranking fused per query by RRF(d) = Σ_lists 1/(K + rank_d).

    Inputs are the two already-oracle-twinned rankers: the dense
    list is the brute-force cosine top-``RRF_DENSE_POOL`` per query
    vector (``similarity_topk``'s scorer), the sparse list the BM25
    keyword ranking (``text_bm25_search``) cut to its global top
    ``RRF_SPARSE_POOL`` — one keyword relevance list shared by all
    queries (the keyword filter is query-set metadata here; per-query
    terms would only change the tf filter). Docs and vectors share
    the id space (doc_id ≡ vec_id in the corpus).

    Engine-exactness: ranks are exact integers on totally-ordered
    keys (score DESC, id ASC — both scores are fixed-point-exact
    cross-engine already); each RRF term is the exact integer
    ``10^12 div (K + rank)`` (integer division both engines — never
    a float quotient), the per-doc sum of ≤2 such terms is exact,
    and the fused ORDER is on that exact integer with doc_id as the
    total-order tie-break, so rank boundaries can never disagree
    across engines. The reported ``rrf`` is one division + round(6)
    for display.

    Scale shape: the BM25 cut is a TakeOrderedAndProject (never a
    global window over matching docs); the dense shortlist is the
    two-phase local-topk reduction; fusion unions two
    |Q|·pool-bounded frames into one hash-agg and ranks windows over
    |Q| groups of ≤ pools rows — everything after the two scans is
    bounded by the shortlists, not the corpus."""
    from dbt_eamples_spark.operators.text import text_bm25_search

    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", _as_double_vec(F.col("embedding")).alias("vec")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    scored = emb.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(_cosine(F.col("qvec"), F.col("vec")), 6).alias("cosine"),
    )
    dense = _topk(scored, RRF_DENSE_POOL).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rk").cast("int").alias("rank"),
        F.lit("dense").alias("src"),
    )
    # global keyword shortlist: ordered cut (TakeOrderedAndProject),
    # then ranks attached on the ≤RRF_SPARSE_POOL-row result
    sparse_pool = (
        text_bm25_search(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(RRF_SPARSE_POOL)
    )
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    sparse_ranked = sparse_pool.select(
        "doc_id", "bm25", F.row_number().over(w).cast("int").alias("rank")
    )
    qids = q.select("query_id")
    sparse = (
        qids.crossJoin(F.broadcast(sparse_ranked))
        .select("query_id", "doc_id", "rank", F.lit("bm25").alias("src"))
    )
    term = F.expr(f"{10**12}L div ({RRF_K} + rank)")
    fused = (
        dense.unionByName(sparse)
        .select("query_id", "doc_id", "src", "rank", term.alias("t_fp"))
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("t_fp").alias("rrf_fp"),
            F.max(F.when(F.col("src") == "dense", F.col("rank")))
            .cast("int")
            .alias("rank_dense"),
            F.max(F.when(F.col("src") == "bm25", F.col("rank")))
            .cast("int")
            .alias("rank_bm25"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_fp"), F.asc("doc_id")
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf).cast("int"))
        .filter(F.col("fused_rank") <= RRF_TOP)
        .select(
            "query_id",
            "fused_rank",
            "doc_id",
            "rank_dense",
            "rank_bm25",
            "rrf_fp",
            F.round(F.col("rrf_fp") / F.lit(1e12), 6).alias("rrf"),
        )
    )


# Session cache for the recall gates' BRUTE-FORCE leg (round 13 —
# the agg_trend_slope_audit double-count fix applied to the recall
# family): five deploy-gate queries each recomputed the exact top-k
# ground truth that `similarity_topk` already prices as its own
# standalone headline line, so the family paid the corpus-sized
# brute force six times per bench pass. A deploy gate computes the
# ground truth ONCE per corpus and evaluates every index against it
# — the production shape. The cache is PRIVATE to the fold:
# similarity_topk's own bench line stays a fresh measurement, and
# each gate's approx leg stays fresh (it is the thing under eval).
# Keyed on the embeddings fingerprint so an in-session corpus
# rewrite misses.


def _recall_eval_frame(
    spark: SparkSession, sf_dir: str, approx: DataFrame
) -> DataFrame:
    """Shared recall@k fold: |approx top-k ∩ exact top-k| / k per
    query, left-anchored on the exact side's query spine so a
    zero-overlap query reports 0. Both shortlists are the engine's
    own deterministic, oracle-twinned rankers, so the eval itself is
    hash-checkable — exact ranks on totally-ordered keys intersect
    identically in every engine.

    Scale shape: rides the two shortlist queries (|Q|·k rows each —
    the corpus-sized work happens inside them); the intersection
    join, per-query fold, and query-spine left join are all
    |Q|-bounded. The exact leg is session-cached per corpus
    fingerprint (see the note above)."""
    exact = session_cached(
        spark, sf_dir, ("embeddings",), "exact_topk",
        lambda _fp: similarity_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True),
    )
    approx = approx.select("query_id", "neighbor_id")
    # both sides are |Q|·k rows — broadcast explicitly: the window
    # outputs carry no size statistics, and Catalyst otherwise
    # falls back to a sort-merge join (seen at fixture scale)
    hits = (
        exact.join(F.broadcast(approx), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_overlap"))
    )
    qids = exact.select("query_id").distinct()
    return (
        qids.join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            F.lit(TOP_K).cast("int").alias("k"),
            F.coalesce("n_overlap", F.lit(0))
            .cast("long")
            .alias("n_overlap"),
            F.round(
                F.coalesce("n_overlap", F.lit(0)).cast("double")
                / F.lit(float(TOP_K)),
                6,
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


def similarity_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the trained IVF index against the exact
    brute-force ranking, per query — retrieval EVAL as a first-class
    query (the RECALL.md study as an operator a pipeline can gate
    deploys on). See :func:`_recall_eval_frame` for the fold."""
    return _recall_eval_frame(
        spark, sf_dir, similarity_ivf_topk(spark, sf_dir)
    )


def similarity_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the random-hyperplane LSH shortlist against the
    exact brute-force ranking (VERDICT r8 #4) — same hash-checkable
    exact-integer-intersection form as
    :func:`similarity_ivf_recall_eval`, so RECALL.md's LSH column is
    a gated query, not tool output."""
    return _recall_eval_frame(
        spark, sf_dir, similarity_lsh_topk(spark, sf_dir)
    )


def similarity_ivfpq_recall_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@k of the residual-trained IVF-PQ shortlist (the FAISS
    production composition, :func:`similarity_ivf_pq_residual_topk`)
    against the exact brute-force ranking (VERDICT r8 #4)."""
    return _recall_eval_frame(
        spark, sf_dir, similarity_ivf_pq_residual_topk(spark, sf_dir)
    )


def similarity_rerank_recall_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@k of the trained-ADC + exact-refine path
    (:func:`similarity_pq_rerank_topk` — FAISS's IndexRefine
    composition) against the exact brute-force ranking (round 10):
    the fourth and last RECALL.md index column promoted to a
    hash-checked query, so every deployable shortlist shape has a
    driver-gated deploy-gate eval."""
    return _recall_eval_frame(
        spark, sf_dir, similarity_pq_rerank_topk(spark, sf_dir)
    )


# ---- round 12: incremental IVF index maintenance (VERDICT r11 #3) ----
#
# The dedup side has apply_delta for every persisted artifact; the
# IVF quantizer + assignments were the last rebuild-per-fingerprint
# family. The FAISS contract, made explicit: add() assigns new
# vectors to the EXISTING cells and never moves centroids — retrain
# is a separate operational event, triggered here by occupancy
# drift (the dq_distribution_drift PSI recipe over per-cell counts).

# retrain trigger: PSI over per-cell occupancy shares between the
# persisted index and the post-append union. 0.25 is the standard
# "drifted" band boundary the monitoring literature (and
# quality.dq_distribution_drift's docstring) uses.
IVF_RETRAIN_PSI = 0.25


def _assign_cells(vecs: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, cell) nearest-centroid assignment — the add() path
    of a real IVF index. A per-row function of the FROZEN broadcast
    centroid set: a vector's cell never depends on other vectors,
    which is exactly what makes the incrementally-maintained index
    row-identical to re-adding the whole corpus against the same
    quantizer (the pytest lock in tests/test_delta_artifacts.py)."""
    # narrow literal argmin (r15) — the frozen quantizer is ≤ ncells
    # rows of persisted model state; collecting it costs one tiny
    # job, versus the cross-join + row_number window that shuffled
    # |vecs|×ncells rows per call (identity argument at
    # _nearest_cells)
    cents = _cent_vals(cent)
    return vecs.select(
        "vec_id",
        F.explode(
            _nearest_cells("vec", cents, 1)
        ).alias("cell"),  # Generate, not element_at — see helper
    )


def ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED IVF quantizer (cent_id, cvec): fixed-point
    Lloyd centroids trained on the STANDING corpus (vec_id %
    INCR_MOD != 0 — the same fingerprint→content convention as
    cosine_base_index), built once per embeddings fingerprint and
    stored as a parquet artifact. Across ingest appends the
    quantizer is carried forward UNCHANGED by
    :func:`ivf_assign_apply_delta` (republished under the union
    fingerprint) until the occupancy-drift trigger retrains it —
    train-once/add-many, the shape a 100 TB vector store actually
    runs (a retrain means re-encoding every stored assignment, so
    it must be an explicit, detected event, never an implicit
    side-effect of an append). Cell count stays the pinned fixture
    constant (static oracle); production sizes it with
    :func:`ivf_cells` (√n rule)."""
    from dbt_eamples_spark.operators.dedup import INCR_MOD

    def build() -> DataFrame:
        emb = load_table(
            spark, sf_dir, "embeddings", parallelize=True
        ).select(
            "vec_id", _as_double_vec(F.col("embedding")).alias("vec")
        )
        base = emb.filter(F.col("vec_id") % INCR_MOD != 0)
        return _kmeans_centroids(base, NCENTROIDS)

    return load_or_build(
        spark,
        "ivf_centroids",
        corpus_fingerprint(sf_dir, "embeddings"),
        build,
    )


def ivf_assign_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED IVF assignment index (vec_id, cell): every
    standing-corpus vector's cell under the persisted quantizer —
    the inverted-list membership of a real IVF index, kept as the
    lean id→cell map (the vectors stay in the corpus table; the
    search query joins them back by vec_id, one equi-join that a
    production layout would remove by bucketing both sides on
    vec_id). Built once per embeddings fingerprint; delta-maintained
    by :func:`ivf_assign_apply_delta`."""
    from dbt_eamples_spark.operators.dedup import INCR_MOD

    def build() -> DataFrame:
        emb = load_table(
            spark, sf_dir, "embeddings", parallelize=True
        ).select(
            "vec_id", _as_double_vec(F.col("embedding")).alias("vec")
        )
        base = emb.filter(F.col("vec_id") % INCR_MOD != 0)
        return _assign_cells(base, ivf_centroids(spark, sf_dir))

    return load_or_build(
        spark,
        "ivf_assign_index",
        corpus_fingerprint(sf_dir, "embeddings"),
        build,
    )


def ivf_occupancy_ref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FOUNDING per-cell occupancy distribution (cell, n):
    the assignment index's cell counts recorded at quantizer-TRAIN
    time, persisted alongside ``ivf_centroids`` and — unlike the
    live index — carried forward UNCHANGED across appends until the
    next retrain (ADVICE r12 medium: comparing each batch against
    the post-append union re-anchors the drift baseline every
    append, so gradual distribution drift never exceeds the PSI
    trigger in any single batch and the quantizer could stay frozen
    forever under exactly the slow-staleness scenario the trigger
    exists to detect; the reference must be PINNED at train time so
    drift ACCUMULATES against it). ≤ ncells rows — bounded model
    state, same class as the centroid frame."""
    def build() -> DataFrame:
        return (
            ivf_assign_index(spark, sf_dir)
            .groupBy("cell")
            .agg(F.count("*").alias("n"))
        )

    return load_or_build(
        spark,
        "ivf_occupancy_ref",
        corpus_fingerprint(sf_dir, "embeddings"),
        build,
    )


def _occupancy_psi(base_counts: dict, union_counts: dict) -> float:
    """PSI between two per-cell occupancy distributions (the
    dq_distribution_drift recipe applied to IVF cell counts):
    Laplace +1 smoothing over the union of cell ids, per-cell term
    (p_cur - p_ref)·ln(p_cur/p_ref) rounded to fixed-point before
    the sum. Driver-side math over ≤ ncells entries — bounded model
    state, same class as the centroid frame itself."""
    import math as _m

    cells = sorted(set(base_counts) | set(union_counts))
    tot_ref = sum(base_counts.get(c, 0) + 1 for c in cells)
    tot_cur = sum(union_counts.get(c, 0) + 1 for c in cells)
    fp = 0
    for c in cells:
        p_ref = (base_counts.get(c, 0) + 1) / tot_ref
        p_cur = (union_counts.get(c, 0) + 1) / tot_cur
        fp += round(1e9 * (p_cur - p_ref) * _m.log(p_cur / p_ref))
    return fp / 1e9


def ivf_assign_apply_delta(
    spark: SparkSession,
    sf_dir: str,
    delta_embeddings: DataFrame,
    publish_fingerprint: str | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, dict]:
    """Delta-maintain the persisted IVF index (VERDICT r11 #3 — the
    last rebuild-on-change family): assign the delta vectors to the
    EXISTING cells of the persisted quantizer and append to the
    persisted assignment index; the quantizer itself is carried
    forward unchanged. Returns ``(centroids, assignments,
    occupancy_ref, report)`` with ``report = {"occupancy_psi",
    "retrained", "convention_excluded"}``.

    RETRAIN RULE (the lsh_planes resize-rule analogue, but
    data-driven rather than size-driven): frozen centroids slowly
    go stale as the corpus distribution moves — detected here as
    PSI occupancy drift between the FOUNDING per-cell distribution
    (:func:`ivf_occupancy_ref`, pinned at quantizer-train time and
    re-anchored only by a retrain) and the post-append union's
    (ADVICE r12: anchoring on the per-append index instead lets
    gradual drift slip under the trigger batch by batch forever —
    drift must ACCUMULATE against the train-time reference). Past
    ``IVF_RETRAIN_PSI`` the quantizer is RETRAINED on the union
    standing corpus and every vector reassigned (eagerly
    checkpointed: the rebuild scans the live embeddings table, and
    the two-phase ingest shape publishes after appending to it —
    the cosine_base_index resize discipline), and the occupancy
    reference re-anchors to the retrained assignment. Below the
    trigger, the append path touches only the delta:
    O(|delta|·ncells) dots, no corpus rescan.

    Both paths are pytest-locked: append == re-adding the union
    against the SAME quantizer (FAISS add() semantics — a quantizer
    rebuild on unchanged training data is NOT implied by an
    append); retrain == a cold from-scratch build over the union
    corpus. The %INCR_MOD convention rows of the delta are excluded
    (fingerprint→content invariant) and COUNTED in the report, per
    the no-silent-caps rule (ADVICE r11 on the cosine twin)."""
    from dbt_eamples_spark.operators.dedup import INCR_MOD

    d_all = delta_embeddings.select(
        "vec_id", _as_double_vec(F.col("embedding")).alias("vec")
    )
    d = d_all.filter(F.col("vec_id") % INCR_MOD != 0)
    n_delta_all = d_all.count()
    n_delta = d.count()
    report: dict = {"convention_excluded": n_delta_all - n_delta}

    cent = ivf_centroids(spark, sf_dir)
    base_assign = ivf_assign_index(spark, sf_dir)
    occ_ref = ivf_occupancy_ref(spark, sf_dir)
    # pinned: delta-sized, consumed by the occupancy collect AND the
    # merged frame (and the merged frame again at publish time)
    delta_assign = _assign_cells(d, cent).localCheckpoint(eager=True)
    merged = base_assign.unionByName(delta_assign)

    # occupancy drift: per-cell counts are ≤ ncells rows — bounded
    # model-state collects, the dq_distribution_drift PSI recipe.
    # The reference side is the TRAIN-TIME distribution, not the
    # per-append index (ADVICE r12 — see docstring).
    ref_counts = {r.cell: r.n for r in occ_ref.collect()}
    base_counts = {
        r.cell: r.n
        for r in base_assign.groupBy("cell")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    delta_counts = {
        r.cell: r.n
        for r in delta_assign.groupBy("cell")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    union_counts = {
        c: base_counts.get(c, 0) + delta_counts.get(c, 0)
        for c in set(base_counts) | set(delta_counts)
    }
    psi = _occupancy_psi(ref_counts, union_counts)
    report["occupancy_psi"] = round(psi, 6)
    report["retrained"] = psi > IVF_RETRAIN_PSI

    if report["retrained"]:
        # retrain: new quantizer on the union standing corpus, full
        # reassignment. Pinned eagerly — the scan reads the LIVE
        # embeddings table and must survive the ingest append.
        emb = load_table(
            spark, sf_dir, "embeddings", parallelize=True
        ).select(
            "vec_id", _as_double_vec(F.col("embedding")).alias("vec")
        )
        union_base = emb.filter(
            F.col("vec_id") % INCR_MOD != 0
        ).unionByName(d)
        cent = _kmeans_centroids(union_base, NCENTROIDS)
        # _kmeans_centroids already checkpoints the centroid frame
        merged = _assign_cells(union_base, cent).localCheckpoint(
            eager=True
        )
        # re-anchor the drift reference at the retrained assignment
        # — the next append's PSI measures drift since THIS retrain
        occ_ref = (
            merged.groupBy("cell")
            .agg(F.count("*").alias("n"))
            .localCheckpoint(eager=True)
        )

    if publish_fingerprint is not None:
        cent = load_or_build(
            spark, "ivf_centroids", publish_fingerprint, lambda: cent
        )
        merged = load_or_build(
            spark, "ivf_assign_index", publish_fingerprint,
            lambda: merged,
        )
        occ_ref = load_or_build(
            spark, "ivf_occupancy_ref", publish_fingerprint,
            lambda: occ_ref,
        )
    return cent, merged, occ_ref, report


def _ivf_delta_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over the INCREMENTALLY-SHAPED index: persisted
    quantizer + persisted standing-corpus assignments, with the
    %INCR_MOD == 0 delta class assigned to the frozen cells exactly
    as :func:`ivf_assign_apply_delta`'s append path would — the
    search a query running between two ingest batches actually
    sees. Same probe/score/rank stages as similarity_ivf_topk."""
    from dbt_eamples_spark.operators.dedup import INCR_MOD

    emb = load_table(
        spark, sf_dir, "embeddings", parallelize=True
    ).select("vec_id", _as_double_vec(F.col("embedding")).alias("vec"))
    cent = ivf_centroids(spark, sf_dir)
    delta = emb.filter(F.col("vec_id") % INCR_MOD == 0)
    assign = ivf_assign_index(spark, sf_dir).unionByName(
        _assign_cells(delta, cent)
    )
    # attach vectors to assignments (the lean-index join; bucketed
    # co-location removes it at scale — ivf_assign_index docstring)
    assigned = assign.join(emb, "vec_id").select(
        "vec_id", "vec", F.col("cell").alias("bucket")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    # narrow literal arg-top-NPROBE over the persisted quantizer
    # (r15; identity argument at _nearest_cells)
    probes = q.select(
        "query_id",
        "qvec",
        F.explode(
            _nearest_cells("qvec", _cent_vals(cent), NPROBE)
        ).alias("bucket"),
    )
    scored = (
        assigned.join(F.broadcast(probes), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(_cosine(F.col("qvec"), F.col("vec")), 6).alias(
                "cosine"
            ),
        )
    )
    return _topk(scored, TOP_K)


def similarity_ivf_delta_recall_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@k of the incrementally-maintained IVF index (frozen
    quantizer trained on the standing corpus, delta class assigned
    to existing cells) against the exact brute-force ranking — the
    deploy gate VERDICT r11 #3 asked for: proof that recall HOLDS on
    the index :func:`ivf_assign_apply_delta` maintains, not just on
    a freshly-trained one. Same hash-checkable exact-integer
    intersection fold as similarity_ivf_recall_eval."""
    return _recall_eval_frame(
        spark, sf_dir, _ivf_delta_topk(spark, sf_dir)
    )
