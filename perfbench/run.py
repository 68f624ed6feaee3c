"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds its fixture, artifact store,
Spark local dirs and warehouse under ``.perfbench_work/`` in that
checkout, runs one workload (see ``workloads.py``), checks the outputs,
and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` the per-layer metrics, from spans recorded around each
call into a layer.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# a query's root span minus its child spans and the tracer's own hooks
# between them, as a share of its wall time: the attribution gap each
# traced query must stay under, or the query counts as a failed
# operation
ATTRIBUTION_TOL = 0.05
DRIVER_HEAP = "1g"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(work: str, slots: int) -> None:
    """Every path the engine writes goes under ``work``; Python UDF
    workers import the engine from the checkout."""
    for d in ("artifacts", "local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_ARTIFACTS=os.path.join(work, "artifacts"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_GRAFT_CPUS=str(slots),
        # a fixed-size heap: the driver's resident set then tracks the
        # work rather than when the collector chose to grow the heap
        SPARK_GRAFT_DRIVER_MEM=DRIVER_HEAP,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        # every JVM (the launcher too) keeps its temp files in ``work``
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
        # keep every job and stage in the status store for the trace
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.retainedJobs=100000 "
            "--conf spark.ui.retainedStages=100000 "
            f"--conf spark.driver.extraJavaOptions=-Xms{DRIVER_HEAP} "
            "pyspark-shell"
        ),
    )
    os.chdir(work)  # spark-warehouse/ and derby.log land here


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _stop_spark(spark) -> None:
    """Stop the session, the driver JVM and every process under it
    (Python workers included), and wait until all have ended."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    started = _descendants(os.getpid())
    gc.collect()  # release py4j handles while the JVM still answers
    spark.stop()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10
    for pid in started:
        while _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _patch_load_table(tracer) -> None:
    """Wrap ``catalog.load_table`` (and each module's imported name for
    it) in a ``catalog.load`` span; traced runs only."""
    from dbt_eamples_spark import catalog

    orig = catalog.load_table

    def load_table(*a, **k):
        with tracer.span("catalog", "load"):
            return orig(*a, **k)

    for mod in list(sys.modules.values()):
        if getattr(mod, "load_table", None) is orig:
            mod.load_table = load_table


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def end_to_end(run, rss_mb: float) -> dict[str, tuple[float, str]]:
    from perfbench.workloads import median

    return {
        "setup_s": (run.setup_s, "s"),
        "query_p50_s": (median(run.query_s), "s"),
        "queries_per_s": (run.ops / run.measured_s, "1/s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def per_layer(run, wl, ctx) -> dict[str, tuple[float, str]]:
    from dbt_eamples_spark import artifacts
    from perfbench.workloads import CORPUS_READS, REGISTRY_POOL, SLOTS, operator_module, median

    tr = ctx.tracer
    costs = tr.stage_costs(wl.spark)
    measured = tr.spans[tr.measure_from :]
    ops = [s for s in measured if s.parent is None and s.layer in ("request", "query", "batch")]
    queries = [s for s in ops if s.layer in ("request", "query")]

    def sub(s):
        return [s, *tr.descendants(s)]

    def jobs(s) -> int:
        return sum(costs[x.sid][0] for x in sub(s))

    def stages(s):
        return [st for x in sub(s) for st in costs[x.sid][1]]

    def mean(xs) -> float:
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def spans(layer, name):
        return [s for s in measured if s.layer == layer and s.name == name]

    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = (run.notes["session_start_s"], "s")
    m["plans.compile_s"] = (mean(s.wall for s in spans("plans", "compile")), "s")
    # Catalyst per request: parsing and analysis in ``spark.sql``, then
    # optimization and planning inside the result's collect
    formats = spans("sources", "format")
    sql_plan = sum(s.wall for s in spans("plans", "sql")) + sum(tr.catalyst_s(s) for s in formats)
    m["plans.sql_plan_s"] = (sql_plan / len(formats) if formats else 0.0, "s")
    loads = spans("catalog", "load")
    m["catalog.load_s"] = (mean(s.wall for s in loads), "s")
    m["catalog.load_jobs"] = (mean(jobs(s) for s in loads), "count")
    m["catalog.register_s"] = (run.notes.get("register_s", 0.0), "s")
    modules = sorted({operator_module(ctx.queries[n]) for n in CORPUS_READS.values()} | set(REGISTRY_POOL))
    driver = sql_plan + sum(s.wall for s in spans("plans", "compile"))
    for mod in modules:
        built, ran = spans(mod, "construct"), spans(mod, "exec")
        plan = [tr.catalyst_s(s) for s in ran]
        m[f"{mod}.construct_s"] = (mean(s.wall for s in built), "s")
        m[f"{mod}.construct_jobs"] = (mean(jobs(s) for s in built), "count")
        m[f"{mod}.plan_s"] = (mean(plan), "s")
        m[f"{mod}.exec_s"] = (mean(s.wall - p for s, p in zip(ran, plan)), "s")
        driver += sum(s.wall for s in built) + sum(plan)
    op_stages = [stages(s) for s in ops]
    m["spark.jobs"] = (mean(jobs(s) for s in ops), "count")
    m["spark.stages"] = (mean(len(x) for x in op_stages), "count")
    m["spark.tasks"] = (mean(sum(st.tasks for st in x) for x in op_stages), "count")
    for attr, unit in (
        ("run_s", "s"),
        ("cpu_s", "s"),
        ("shuffle_read_bytes", "bytes"),
        ("shuffle_write_bytes", "bytes"),
        ("spill_bytes", "bytes"),
        ("input_bytes", "bytes"),
    ):
        name = {"run_s": "executor_run_s", "cpu_s": "executor_cpu_s"}.get(attr, attr)
        m[f"spark.{name}"] = (mean(sum(getattr(st, attr) for st in x) for x in op_stages), unit)
    wall = sum(s.wall for s in ops)
    run_total = sum(st.run_s for x in op_stages for st in x)
    m["spark.core_util"] = (run_total / (wall * SLOTS) if wall else 0.0, "ratio")
    m["driver_share"] = (driver / wall if wall else 0.0, "ratio")
    ev = artifacts.ARTIFACT_EVENTS
    builds = sum(1 for _, e in ev if e == "build")
    reuses = sum(1 for _, e in ev if e == "reuse")
    m["artifacts.builds"] = (builds, "count")
    m["artifacts.reuses"] = (reuses, "count")
    m["artifacts.hit_ratio"] = (reuses / (builds + reuses) if ev else 0.0, "ratio")
    store = _du(os.environ["SPARK_GRAFT_ARTIFACTS"])
    rows = sum(run.notes.get("corpus_rows", run.notes["fixture_rows"]).values())
    m["artifacts.store_bytes"] = (store, "bytes")
    m["artifacts.store_bytes_per_row"] = (store / rows, "bytes")
    for t, short in (("documents", "doc"), ("embeddings", "emb")):
        bs = [s for s in ops if s.layer == "batch" and s.name == t]
        m[f"streaming.ingest.{short}_batch_jobs"] = (mean(jobs(s) for s in bs), "count")
        m[f"streaming.ingest.{short}_batch_s"] = (median([s.wall for s in bs]) if bs else 0.0, "s")
    batches = [s for s in ops if s.layer == "batch"]
    m["streaming.ingest.batch_shuffle_bytes"] = (
        mean(sum(st.shuffle_read_bytes + st.shuffle_write_bytes for st in stages(s)) for s in batches),
        "bytes",
    )
    m["streaming.ingest.published_per_batch"] = (mean(run.notes.get("published", [])), "count")
    batch_wall = sum(s.wall for s in batches)
    m["streaming.ingest.rows_per_s"] = (
        run.notes.get("rows_appended", 0) / batch_wall if batch_wall else 0.0,
        "1/s",
    )
    corpus = os.path.join(ctx.work, "corpus")
    m["sources.corpus_files"] = (
        sum(f.endswith(".parquet") for _, _, fs in os.walk(corpus) for f in fs),
        "count",
    )
    m["sources.format_s"] = (mean(s.wall - tr.catalyst_s(s) for s in formats), "s")
    m["plans.strict_mismatch_frac"] = (
        run.notes.get("strict_mismatches", 0) / max(1, run.notes.get("distinct_requests", 0)),
        "ratio",
    )
    # the tracer's own hooks between child spans are not engine time
    gaps = [(tr.self_time(s) - s.hook_s) / s.wall for s in queries]
    for s, g in zip(queries, gaps):
        wl.check(g <= ATTRIBUTION_TOL, f"{s.name}: {g:.1%} of its wall time outside its child spans")
    # the untraced run's query_p50_s and queries_per_s, measured with
    # the tracer on: the difference is the tracing overhead
    m["trace.query_p50_s"] = (median(run.query_s), "s")
    m["trace.queries_per_s"] = (run.ops / run.measured_s, "1/s")
    m["trace.hook_s_per_op"] = (tr.hook_s / max(1, len(ops)), "s")
    m["trace.unattributed_max_frac"] = (max(gaps, default=0.0), "ratio")
    m["trace.attributed_ok_frac"] = (
        sum(g <= ATTRIBUTION_TOL for g in gaps) / len(gaps) if gaps else 1.0,
        "ratio",
    )
    m["failed_frac"] = (run.failed / run.attempted, "ratio")
    return m


class Ctx:
    def __init__(self, args, work, tracer, queries, oracles):
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.tracer = tracer
        self.queries = queries
        self.oracles = oracles
        self.t0 = T0


def _write_spans(tracer, path: str) -> None:
    with open(path, "w") as fh:
        for s in tracer.spans:
            fh.write(
                json.dumps(
                    {
                        "id": s.sid,
                        "parent": s.parent,
                        "rid": s.rid,
                        "layer": s.layer,
                        "name": s.name,
                        "start": s.t0 - T0,
                        "end": s.t1 - T0,
                        "self": tracer.self_time(s),
                    }
                )
                + "\n"
            )


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dbt_eamples_spark")):
        print(f"perfbench: no dbt_eamples_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]
    from perfbench.workloads import SLOTS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(work, SLOTS)

    import __spark_entry__ as entry
    from perfbench.trace import Tracer

    path = list(sys.path)
    import tools.oracle_check  # noqa: F401 (it prepends a fixed path)

    sys.path[:] = path

    tracer = Tracer(bool(args.trace))
    if tracer.enabled:
        _patch_load_table(tracer)
    ctx = Ctx(args, work, tracer, entry.queries(), entry.oracle_sql())
    wl = WORKLOADS[args.workload](ctx)
    try:
        run = wl.go()
        if tracer.enabled:
            metrics = per_layer(run, wl, ctx)
            _write_spans(tracer, os.path.join(base, f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            # high-water resident sets of this process and the driver JVM
            rss = _hwm_mb(os.getpid()) + _hwm_mb(wl.spark.sparkContext._gateway.proc.pid)
            metrics = end_to_end(run, rss)
    finally:
        if wl.spark is not None:
            if tracer.enabled:
                tracer.detach(wl.spark)
            _stop_spark(wl.spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    for f in run.notes.get("failures", [])[:20]:
        print(f"FAILED: {f}", file=sys.stderr)
    print(json.dumps({k: v for k, v in run.notes.items() if k != "failures"}, default=str), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
