"""The benchmark workloads and the inputs they draw from a seed.

Every workload is a closed loop with one client on one SparkSession
(``local[SLOTS]``). Input generation (``semantic_requests``,
``corpus_plan``) is pure: the same seed gives the same inputs, and
nothing here reads the clock or the engine's state to choose them.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import time
from dataclasses import dataclass, field

SLOTS = 2
SEMANTIC_SCALE = 0.001
CORPUS_SCALE = 0.001
# one semantic "pass" is a block of requests: one per shape below
# (fact model, request kind, request options), plus exact repeats of
# earlier requests of the shapes in SEMANTIC_REPEATS, shuffled. Shapes
# fix everything that shapes the plan: joins, windows, the conversion
# self-join, filters, time ranges, ordering and limits, and a grain
# schedule. So every seed gives blocks of alike cost; the seed picks
# the metrics, the dimensions (of one join depth), the filter, the
# range, the limit and which earlier requests repeat.
SEMANTIC_SHAPES = (
    ("lineitem", "plain", "where"),
    ("lineitem", "joined", "range limit"),
    ("lineitem", "windowed", ""),
    ("orders", "plain", "range"),
    ("orders", "own", "where order"),
    ("orders", "joined", "limit"),
    ("events", "own", "range order"),
    ("events", "conversion", "where"),
)
SEMANTIC_REPEATS = (1, 4)  # 2 of 10 requests (20%) are exact repeats
SEMANTIC_BLOCK = len(SEMANTIC_SHAPES) + len(SEMANTIC_REPEATS)
# blocks run during set-up, from a seed-free stream. A fresh driver JVM
# spends two of the 4 vCPUs on JIT compilation for about its first
# 30 s of queries; timed requests that overlap it run up to 30% slower, by
# an amount that follows how busy the host is. These blocks carry the
# session past it.
SEMANTIC_WARMUP_BLOCKS = 3
CORPUS_WARMUP_PASSES = 1
CORPUS_BASE_SHARE = 0.7
DOC_BATCH = 10
EMB_BATCH = 10
# the ingest functions' default. With True each batch also
# delta-maintains and publishes every document (11) or embedding (4)
# artifact kind: about 15 s per batch and 70-85 s of cold priming per
# run on 2 slots, which the benchmark's run budget cannot hold.
MAINTAIN_ARTIFACTS = False
CORPUS_READS = {"documents": "dedup_minhash", "embeddings": "similarity_ivf_topk"}
CORPUS_KEYS = {"documents": "doc_id", "embeddings": "vec_id"}
# the registry reads of a corpus_ingest pass: one query per operator
# module, drawn by the seed from that module's pool. A pool holds the
# module's queries that have an oracle, took 0.25-0.65 s for a warm
# noop pass and at most 2 s cold, on the corpus fixture with 2 slots
# on a 4-CPU x86_64 VM. So every seed draws a pass of alike cost.
REGISTRY_POOL = {
    "operators.relational": (
        "agg_count_distinct", "agg_max_watermark", "agg_skewness_kurtosis",
        "agg_skyline_per_brand", "agg_trend_slope", "agg_weighted_percentile",
        "customer_order_distribution", "date_spine", "filter_type_and_notnull", "intersect_except",
        "join_fact_dim", "join_left_outer", "join_semi_exists", "join_star_3way",
        "lineitem_disjunctive_scan", "metric_groupby_agg", "metric_unpivot",
        "orders_large_quantity", "orders_priority_exists", "revenue_change_forecast",
        "supplier_dominant_parts", "window_lag_delta", "window_ntile_deciles",
        "window_percent_rank_cume", "window_sliding_avg",
    ),
    "operators.behavior": (
        "agg_mode_per_group", "agg_theil_index", "events_ab_test", "events_attribution_last_touch",
        "events_inter_arrival", "events_time_to_convert", "events_transition_matrix",
        "events_user_entropy", "events_user_path", "market_basket_pairs", "ts_resample_ohlc",
    ),
    "operators.quality": (
        "agg_winsorized_mean", "agg_zscore_outliers", "dq_benford_digits", "dq_distribution_drift",
        "table_profile",
    ),
    "operators.sampling": (
        "agg_equi_depth_histogram", "agg_histogram", "sample_fixed_size_per_group",
        "sample_source_temperature", "sample_source_temperature_alpha", "sample_stratified",
        "sample_train_test_split", "sample_weighted_reservoir",
    ),
    "operators.text": (
        "doc_fingerprint", "text_bpe_train", "text_lang_confusion", "text_lang_id",
        "text_ngram_novelty", "text_pii_scan", "text_quality_score",
    ),
    "operators.graph": ("graph_degree_powerlaw",),
    "operators.multimodal": ("multimodal_meta",),
    "operators.streaming.streams": (
        "stream_dedup", "stream_interval_join", "stream_session_agg", "stream_sliding_count",
        "stream_tumbling_count",
    ),
}


# -- inputs -------------------------------------------------------------

_FACT_WHERE = {
    "lineitem": ["l_quantity > 25", "l_discount < 0.05", "l_returnflag <> 'R'"],
    "orders": ["o_totalprice > 100000", "o_orderpriority IN ('1-URGENT', '2-HIGH')"],
    "events": ["value > 50", "event_type <> 'error'"],
}
_FACT_SPAN = {  # (first day, days covered) of each fact's time dimension
    "lineitem": (dt.date(1995, 1, 2), 2498),
    "orders": (dt.date(1995, 1, 1), 2404),
    "events": (dt.date(2024, 1, 1), 30),
}
# joined dimensions three and four entity hops from the fact
_DEEP_DIMS = ("nation_name", "region_name")


def _draw_request(rng: random.Random, reg, model: str, kind: str, options: str, grain: str):
    from dbt_eamples_spark.plans.compiler import MetricQueryRequest

    metrics = sorted(n for n, m in reg.metrics.items() if m.model == model)
    kinds = {n: reg.metric(n).metric_type for n in metrics}
    plain = [n for n in metrics if kinds[n] not in ("conversion", "cumulative", "growth")]
    own = reg.models[model].dimensions
    time_dim = next(d.name for d in own if d.dim_type == "time")
    own_dims = [d.name for d in own if d.dim_type != "time"]
    grained = f"{time_dim}__{grain}"
    if kind == "conversion":
        chosen = [n for n in metrics if kinds[n] == "conversion"]
        dims = [grained]
    elif kind == "windowed":
        windowed = [n for n in metrics if kinds[n] in ("cumulative", "growth")]
        chosen = [rng.choice(windowed), rng.choice(plain)]
        dims = [grained]
    else:
        chosen = rng.sample(plain, min(2, len(plain)))
        dims = {
            "plain": [],
            "own": [rng.choice(own_dims), grained],
            "joined": [rng.choice(_DEEP_DIMS)],
        }[kind]
    start = end = where = limit = None
    if "range" in options:
        first, days = _FACT_SPAN[model]
        a = rng.randrange(days // 2)
        start = f"{first + dt.timedelta(days=a)} 00:00:00"
        end = f"{first + dt.timedelta(days=a + days // 2)} 00:00:00"
    if "where" in options:
        where = rng.choice(_FACT_WHERE[model])
    order: tuple[str, ...] = ()
    if "limit" in options:
        # LIMIT orders by the group-by columns only: they are exact and
        # unique per row, so every engine keeps the same rows (a float
        # metric can tie differently once each engine has rounded it)
        order = ("-" + dims[0], *dims[1:]) if rng.random() < 0.5 else tuple(dims)
        limit = rng.choice((5, 10, 20))
    elif "order" in options:
        order = ("-" + chosen[0],)
    return MetricQueryRequest(
        metrics=tuple(chosen),
        group_by=tuple(dims),
        where=where,
        start_time=start,
        end_time=end,
        order_by=order,
        limit=limit,
    )


def semantic_requests(seed: int | str, blocks: int = 200):
    """``blocks`` shuffled blocks of ``SEMANTIC_BLOCK`` requests. A
    shape's time grain cycles through all five grains block by block."""
    from dbt_eamples_spark.plans.semantics import TIME_GRAINS, default_registry

    rng = random.Random(f"semantic:{seed}")
    reg = default_registry()
    history: list[list] = [[] for _ in SEMANTIC_SHAPES]
    out = []
    for b in range(blocks):
        block = []
        for j, (model, kind, options) in enumerate(SEMANTIC_SHAPES):
            grain = TIME_GRAINS[(b + j) % len(TIME_GRAINS)]
            history[j].append(_draw_request(rng, reg, model, kind, options, grain))
            block.append(history[j][-1])
        block += [rng.choice(history[j]) for j in SEMANTIC_REPEATS]
        out += rng.sample(block, len(block))
    return out


@dataclass
class CorpusPlan:
    base_ids: dict[str, list[int]]
    batches: dict[str, list[list[int]]]


def corpus_plan(seed: int, sizes: dict[str, int]) -> CorpusPlan:
    """Seeded 70/30 id split per table; the held-out ids are cut into
    batches of new ids."""
    rng = random.Random(f"corpus:{seed}")
    base, batches = {}, {}
    for table, size in (("documents", DOC_BATCH), ("embeddings", EMB_BATCH)):
        ids = list(range(sizes[table]))
        rng.shuffle(ids)
        cut = int(round(len(ids) * CORPUS_BASE_SHARE))
        base[table] = sorted(ids[:cut])
        held = ids[cut:]
        batches[table] = [sorted(held[i : i + size]) for i in range(0, len(held) - size + 1, size)]
    return CorpusPlan(base, batches)


def registry_sample(seed: int) -> tuple[str, ...]:
    """One query per ``REGISTRY_POOL`` module, in a seeded order."""
    rng = random.Random(f"registry:{seed}")
    picks = [rng.choice(pool) for pool in REGISTRY_POOL.values()]
    return tuple(rng.sample(picks, len(picks)))


def operator_module(fn) -> str:
    """``operators.<module>`` layer name of a registry builder."""
    mod = fn.__module__.removeprefix("dbt_eamples_spark.")
    return "operators." + mod.removeprefix("operators.")


# -- measurement ------------------------------------------------------------


@dataclass
class Run:
    """What one workload run measured."""

    setup_s: float = 0.0
    measured_s: float = 0.0
    query_s: list[float] = field(default_factory=list)
    ops: int = 0  # requests or reads completed in the measured region
    attempted: int = 0
    failed: int = 0
    notes: dict = field(default_factory=dict)


def median(xs: list[float]) -> float:
    """The Harrell-Davis estimate of the median: a mean of all order
    statistics, weighted by the Beta((n+1)/2, (n+1)/2) mass on their
    ranks. semantic_queries latencies fall in two clusters (about
    0.2-0.3 s and 0.4-0.7 s), and the sample median of a run's 30
    requests sits in the gap, jumping across it whenever one request
    changes sides; this estimate moves smoothly."""
    xs = sorted(xs)
    n = len(xs)
    a = (n + 1) / 2
    log_norm = 2 * math.lgamma(a) - math.lgamma(2 * a)
    steps = 64  # midpoint rule over each rank's interval ((i-1)/n, i/n]
    ws = []
    for i in range(n):
        us = ((i + (k + 0.5) / steps) / n for k in range(steps))
        ws.append(sum(math.exp((a - 1) * math.log(u * (1 - u)) - log_norm) for u in us))
    return sum(w * x for w, x in zip(ws, xs)) / sum(ws)


class Workload:
    """Shared plumbing: fixture, session, tracer and correctness tally."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.tr = ctx.tracer
        self.run = Run()
        self.spark = None

    def fixture(self, scale: float, tables) -> str:
        from perfbench.fixture import write_fixture

        out = os.path.join(self.ctx.work, "fixture")
        self.run.notes["fixture_rows"] = write_fixture(out, scale, tables)
        return out

    def start_spark(self):
        from dbt_eamples_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.run.notes["session_start_s"] = time.perf_counter() - t
        if self.tr.enabled:
            self.tr.attach(self.spark)
        return self.spark

    def setup_done(self) -> float:
        self.run.setup_s = time.perf_counter() - self.ctx.t0
        self.tr.measure_from = len(self.tr.spans)
        return time.perf_counter()

    def check(self, ok: bool, what: str) -> None:
        self.run.attempted += 1
        if not ok:
            self.run.failed += 1
            self.run.notes.setdefault("failures", []).append(what)


def _oracle_frames_match(spark_pdf, oracle_pdf) -> bool:
    """The strict value hash of tools/oracle_check.py."""
    from tools.oracle_check import dtype_mismatches, frame_sig

    sn, scols, shash, _ = frame_sig(spark_pdf)
    on, ocols, ohash, _ = frame_sig(oracle_pdf)
    return (sn, scols, shash) == (on, ocols, ohash) and not dtype_mismatches(
        spark_pdf, oracle_pdf
    )


def _rounded_rows_match(spark_pdf, duck_pdf, tol: dict[str, float]) -> bool:
    """Row-for-row equality, except that a float column ``c`` may differ
    by ``tol[c]``: one unit in the last place the compiled SQL rounds
    to. The two engines round exact halves differently (Spark rounds
    the decimal text half-up, DuckDB the binary double)."""
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns) or len(spark_pdf) != len(duck_pdf):
        return False
    cols = sorted(spark_pdf.columns)
    floats = [c for c in cols if "f" in (spark_pdf[c].dtype.kind, duck_pdf[c].dtype.kind)]
    keys = [c for c in cols if c not in floats]

    def rows(pdf):
        return sorted(
            zip(*(pdf[c].astype(str) for c in keys), *(pdf[c] for c in floats)),
            key=lambda r: r[: len(keys)],
        )

    for a, b in zip(rows(spark_pdf), rows(duck_pdf)):
        if a[: len(keys)] != b[: len(keys)]:
            return False
        for c, x, y in zip(floats, a[len(keys) :], b[len(keys) :]):
            if x != x or y != y:  # NULL arrives as NaN
                if (x != x) != (y != y):
                    return False
            elif abs(x - y) > tol.get(c, 0.0) * (1 + 1e-9) + 1e-9 * abs(x):
                return False
    return True


def _round_tolerance(req, reg) -> dict[str, float]:
    from dbt_eamples_spark.plans import compiler as C

    fine = ("growth", "conversion")
    return {
        m: 10.0 ** -(C.GROWTH_ROUND_DECIMALS if reg.metric(m).metric_type in fine else C.ROUND_DECIMALS)
        for m in req.metrics
    }


def _duckdb_over(sf_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def _frozen_quantizer_oracle(con, trained_ids: list[int]) -> str:
    """The oracle of ``similarity_ivf_topk`` after in-session appends:
    the engine's frozen-quantizer recipe (the quantizer trains on a
    standing corpus, every vector is assigned to its cells), with the
    ids in ``trained_ids`` as the standing corpus."""
    from dbt_eamples_spark.oracles_ext import _ivf_delta_topk_oracle_sql

    standing = "vb AS (SELECT vec_id, vec FROM v WHERE vec_id % 10 != 0)"
    sql = _ivf_delta_topk_oracle_sql()
    if sql.count(standing) != 1:
        raise RuntimeError("the frozen-quantizer oracle no longer names its standing corpus as expected")
    con.execute("CREATE OR REPLACE TABLE trained_ids AS SELECT unnest(?::BIGINT[]) AS vec_id", [trained_ids])
    return sql.replace(
        standing, "vb AS (SELECT vec_id, vec FROM v WHERE vec_id IN (SELECT vec_id FROM trained_ids))"
    )


class SemanticQueries(Workload):
    TABLES = ("region", "nation", "customer", "orders", "lineitem", "events")

    def request(self, fx: str, req) -> None:
        from dbt_eamples_spark.catalog import register_tables
        from dbt_eamples_spark.plans.compiler import compile_request, execute
        from dbt_eamples_spark.session import get_spark
        from dbt_eamples_spark.sources.sinks import result_text_format

        tr = self.tr
        if not tr.enabled:  # the `cli query` path
            result_text_format(execute(get_spark("perfbench"), fx, req).df)
            return
        # the same calls `execute` makes, one span each
        with tr.span("session", "get_spark"):
            s = get_spark("perfbench")
        with tr.span("plans", "compile"):
            compiled = compile_request(req)
        with tr.span("catalog", "register"):
            register_tables(s, fx)
        with tr.span("plans", "sql"):  # parsing and analysis
            df = s.sql(compiled.sql)
        # optimization and planning run inside the collect, and are
        # read from the query's planning tracker
        with tr.span("sources", "format"):
            result_text_format(df)

    def go(self) -> Run:
        from dbt_eamples_spark.catalog import register_tables
        from dbt_eamples_spark.plans.compiler import compile_request
        from dbt_eamples_spark.plans.semantics import default_registry

        ctx, tr, run = self.ctx, self.tr, self.run
        fx = self.fixture(SEMANTIC_SCALE, self.TABLES)
        spark = self.start_spark()
        t = time.perf_counter()
        with tr.root("catalog", "register_tables"), tr.span("catalog", "register"):
            register_tables(spark, fx)
        run.notes["register_s"] = time.perf_counter() - t
        for req in semantic_requests("warmup", SEMANTIC_WARMUP_BLOCKS):
            with tr.root("warmup", "request"):
                self.request(fx, req)
        requests = semantic_requests(ctx.seed)
        start = self.setup_done()
        i = 0
        # whole blocks only, so every run measures the same mix of shapes
        while time.perf_counter() - start < ctx.seconds or i % SEMANTIC_BLOCK:
            t = time.perf_counter()
            with tr.root("request", f"r{i}"):
                self.request(fx, requests[i])
            run.query_s.append(time.perf_counter() - t)
            i += 1
        run.measured_s = time.perf_counter() - start
        run.ops = i
        run.notes["requests"] = i
        # correctness, outside the measured region: every distinct
        # request's full result against DuckDB running the same SQL
        con = _duckdb_over(fx, self.TABLES)
        reg = default_registry()
        distinct = list(dict.fromkeys(requests[:i]))
        run.notes["distinct_requests"] = len(distinct)
        run.notes["strict_mismatches"] = 0
        for req in distinct:
            try:
                compiled = compile_request(req)
                got = spark.sql(compiled.sql).toPandas()
                want = con.execute(compiled.sql).fetchdf()
                strict = _oracle_frames_match(got, want)
                run.notes["strict_mismatches"] += not strict
                self.check(
                    strict or _rounded_rows_match(got, want, _round_tolerance(req, reg)),
                    f"request {req}",
                )
            except Exception as e:  # a failed request is a failed op
                self.check(False, f"request {req}: {type(e).__name__}: {e}")
        return run


class CorpusIngest(Workload):
    def read(self, name: str, sf_dir: str, layer: str) -> float:
        """One read as a noop-sink pass; traced, split into construct
        (builder call) and exec (noop write, whose Catalyst time the
        tracer reads as plan)."""
        fn = self.ctx.queries[name]
        module = operator_module(fn)
        tr = self.tr
        t0 = time.perf_counter()
        with tr.root(layer, name):
            with tr.span(module, "construct"):
                df = fn(self.spark, sf_dir)
            with tr.span(module, "exec"):
                df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def check_read(self, name: str, sf_dir: str, oracle, sql: str | None = None) -> None:
        """``name``'s rows over ``sf_dir`` against ``sql`` (by default
        its ``oracle_sql()``) run by DuckDB on the same files, on the
        strict hash."""
        try:
            got = self.ctx.queries[name](self.spark, sf_dir).toPandas()
            want = oracle.execute(sql or self.ctx.oracles[name]).fetchdf()
            self.check(_oracle_frames_match(got, want), f"read {name} over {os.path.basename(sf_dir)}")
        except Exception as e:
            self.check(False, f"read {name}: {type(e).__name__}: {e}")

    def go(self) -> Run:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from dbt_eamples_spark.catalog import TABLES
        from dbt_eamples_spark.streaming import ingest as I

        ctx, tr, run = self.ctx, self.tr, self.run
        # the registry reads' tables, which never change, and the
        # source of the corpus rows
        fx = self.fixture(CORPUS_SCALE, TABLES)
        corpus = os.path.join(ctx.work, "corpus")
        spark = self.start_spark()
        plan = corpus_plan(ctx.seed, run.notes["fixture_rows"])
        sample = registry_sample(ctx.seed)
        run.notes["registry_sample"] = sample
        ingest = {
            "documents": I.ingest_documents_batch,
            "embeddings": I.ingest_embeddings_batch,
        }
        src = {t: spark.read.parquet(os.path.join(fx, f"{t}.parquet")) for t in CORPUS_READS}

        def rows(t: str, ids: list[int]):
            return src[t].filter(F.col(CORPUS_KEYS[t]).isin(ids))

        present = {}
        for t in CORPUS_READS:  # the base copy, as plain file I/O
            table = pq.read_table(os.path.join(fx, f"{t}.parquet"))
            key = table[CORPUS_KEYS[t]]
            os.makedirs(os.path.join(corpus, f"{t}.parquet"))
            pq.write_table(
                table.filter(pc.is_in(key, value_set=pa.array(plan.base_ids[t], key.type))),
                os.path.join(corpus, f"{t}.parquet", "part-00000.parquet"),
            )
            present[t] = set(plan.base_ids[t])
        # each table's ids when its corpus read first ran in this session
        first_read: dict[str, list[int]] = {}

        def one_pass(n: int, layer: str) -> tuple[float, int]:
            """Batch ``n`` of each table, each followed by its corpus
            read, then the registry reads: (the reads' time, rows
            appended)."""
            read_s, appended = 0.0, 0
            for t in CORPUS_READS:
                ids = plan.batches[t][n]
                novel = len(set(ids) - present[t])
                with tr.root("batch", t), tr.span("streaming.ingest", t):
                    report = ingest[t](spark, rows(t, ids), corpus, maintain_artifacts=MAINTAIN_ARTIFACTS)
                run.notes.setdefault("published", []).append(len(report["artifacts_published"]))
                got = report["rows_appended"]
                self.check(got == novel, f"{t} batch {n} appended {got} rows, {novel} are new")
                present[t] |= set(ids)
                appended += got
                first_read.setdefault(t, sorted(present[t]))
                read_s += self.read(CORPUS_READS[t], corpus, layer)
            for name in sample:
                read_s += self.read(name, fx, layer)
            return read_s, appended

        # the registry reads' tables never change, so their cold read
        # is also their correctness check
        fx_oracle = _duckdb_over(fx, TABLES)
        for name in sample:
            self.check_read(name, fx, fx_oracle)
        # untimed passes: the first primes the corpus reads, and they
        # carry the driver JVM past its JIT warm-up (see
        # SEMANTIC_WARMUP_BLOCKS)
        for n in range(CORPUS_WARMUP_PASSES):
            one_pass(n, "warmup")
        start = self.setup_done()
        n = CORPUS_WARMUP_PASSES
        appended = 0
        # whole passes only, and at least one; a pass's sample is its
        # reads' time
        while n == CORPUS_WARMUP_PASSES or time.perf_counter() - start < ctx.seconds:
            if n >= min(len(b) for b in plan.batches.values()):
                raise RuntimeError("batch plan exhausted; lower --seconds")
            read_s, got = one_pass(n, "query")
            run.query_s.append(read_s)
            run.ops += len(CORPUS_READS) + len(sample)
            appended += got
            n += 1
        run.measured_s = time.perf_counter() - start
        run.notes["rows_appended"] = appended
        run.notes["batches"] = n - CORPUS_WARMUP_PASSES
        # redelivering the last batch appends nothing
        for t in CORPUS_READS:
            got = ingest[t](
                spark, rows(t, plan.batches[t][n - 1]), corpus, maintain_artifacts=MAINTAIN_ARTIFACTS
            )["rows_appended"]
            self.check(got == 0, f"{t} redelivery appended {got} rows")
        # the corpus reads over the grown corpus match their oracles.
        # similarity_ivf_topk trains its IVF quantizer once per (session,
        # corpus) and assigns later appends to those frozen cells, so its
        # oracle trains on the corpus its first read saw
        corpus_oracle = _duckdb_over(corpus, CORPUS_READS)
        sql = {"similarity_ivf_topk": _frozen_quantizer_oracle(corpus_oracle, first_read["embeddings"])}
        for name in CORPUS_READS.values():
            self.check_read(name, corpus, corpus_oracle, sql.get(name))
        run.notes["corpus_rows"] = {t: len(present[t]) for t in CORPUS_READS}
        return run


WORKLOADS = {
    "semantic_queries": SemanticQueries,
    "corpus_ingest": CorpusIngest,
}
