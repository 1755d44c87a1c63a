"""One benchmark run, in the fresh process ``run.py`` starts for it.

Protocol, for one workload against one ``local[cores]`` session:

1. Set-up: import the package, start the session, then run one warm-up
   pass that runs every query as a timed pass does and then collects its
   output and compares it with its DuckDB oracle. ``setup_s`` runs from
   the package import to the end of that pass, less the verification
   (collect, DuckDB and comparison).
2. ``SETTLE_PASSES`` untimed passes, run as timed passes are.
3. Timed passes until ``seconds`` have elapsed, and at least
   ``MIN_PASSES`` of them: every query is built
   with ``queries()[name](spark, dir)``, planned, and forced to the noop
   sink, with caches evicted before each query as ``bench.py`` does.
   With tracing on, untraced and traced passes alternate; the traced
   ones give the per-layer metrics, and the tracer's hooks are removed
   during the untraced ones.

A query that raises, or whose output differs from its oracle, counts as
failed and stays in the workload.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

from workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Fewest timed (untraced) passes per run; more run if they end before
# ``seconds`` have elapsed.
MIN_PASSES = 2
# Untimed passes between set-up and the timed ones. In a fresh JVM a
# pass keeps getting faster for about five passes while the JIT compiles
# the hot paths (tpch_sf0.02 on 4 cores: 6.0, 5.1, 4.8, 4.6, 4.9, 4.5,
# then 4.2-4.3 s), so without them the median would depend on how many
# passes fit in ``seconds``. Two keep a run under a minute.
SETTLE_PASSES = 2


@dataclass
class Run:
    spark: object
    query_fns: dict
    queries: tuple[str, ...]
    data_dir: str
    tracer: object = None
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    query_s: dict[str, list[float]] = field(default_factory=dict)

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, **attrs)


def evict_caches(spark) -> None:
    from cs422pp_mapreduce_spark.operators.dedup import evict_cluster_cache
    from cs422pp_mapreduce_spark.operators.similarity import evict_index_caches
    from cs422pp_mapreduce_spark.session import evict_scratch

    spark.catalog.clearCache()
    evict_index_caches(spark)
    evict_cluster_cache(spark)
    evict_scratch(spark)


def build_and_plan(run: Run, name: str):
    evict_caches(run.spark)
    with run.span("build"):
        df = run.query_fns[name](run.spark, run.data_dir)
    with run.span("plan"):
        df._jdf.queryExecution().executedPlan()
    return df


def warmup_pass(run: Run, oracles: dict) -> float:
    """The untimed warm-up pass: every query runs as in a timed pass, then
    its output is collected and compared with its oracle. Returns the
    seconds spent verifying (collect, DuckDB and comparison)."""
    import duckdb
    from check_oracles import TABLES, compare

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(run.data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    verify_s = 0.0
    with run.span("pass", kind="warmup"):
        for name in run.queries:
            run.attempted += 1
            with run.span("query", query=name) as q:
                try:
                    df = build_and_plan(run, name)
                    with run.span("execute"):
                        df.write.format("noop").mode("overwrite").save()
                    t0 = time.perf_counter()
                    with run.span("verify"):
                        got = df.toPandas()
                        problems = compare(name, got, con.sql(oracles[name]).df())
                    verify_s += time.perf_counter() - t0
                except Exception as exc:  # noqa: BLE001 — counted, reported
                    problems = [f"{type(exc).__name__}: {exc}"]
            if run.tracer is not None:
                run.tracer.finish_query(q)
            if problems:
                run.failures.append(f"{name} (warm-up): {problems[0][:300]}")
    con.close()
    return verify_s


def timed_pass(run: Run, traced: bool) -> float:
    tracer, run.tracer = run.tracer, (run.tracer if traced else None)
    paused = tracer.paused() if tracer is not None and not traced else contextlib.nullcontext()
    try:
        with paused:
            t0 = time.perf_counter()
            with run.span("pass", kind="timed"):
                for name in run.queries:
                    run.attempted += 1
                    t_query = time.perf_counter()
                    with run.span("query", query=name) as q:
                        try:
                            df = build_and_plan(run, name)
                            with run.span("execute"):
                                df.write.format("noop").mode("overwrite").save()
                        except Exception as exc:  # noqa: BLE001 — counted, reported
                            run.failures.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
                    if not traced:
                        run.query_s.setdefault(name, []).append(time.perf_counter() - t_query)
                    if run.tracer is not None:
                        run.tracer.finish_query(q)
            return time.perf_counter() - t0
    finally:
        run.tracer = tracer


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def measure(workload: str, data_dir: str, seconds: float, trace: bool,
            spans_path: str) -> dict:
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracles  # noqa: F401 — harness code, imported before the clock

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    t_setup = time.perf_counter()
    import __spark_entry__ as entry
    from cs422pp_mapreduce_spark.session import get_spark

    t_session = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t_session
    spark.sparkContext.setLogLevel("ERROR")

    run = Run(spark, entry.queries(), WORKLOADS[workload].queries, data_dir)
    if trace:
        from spans import Tracer

        run.tracer = Tracer(spark)
    # With tracing on, the warm-up pass is traced too, so setup_s is only
    # reported by untraced runs.
    verify_s = warmup_pass(run, entry.oracle_sql())
    setup_s = time.perf_counter() - t_setup - verify_s

    settle = [timed_pass(run, traced=False) for _ in range(SETTLE_PASSES)]
    run.query_s.clear()

    plain: list[float] = []
    traced: list[float] = []
    t_measure = time.perf_counter()
    while True:
        use_trace = trace and len(traced) < len(plain)
        (traced if use_trace else plain).append(timed_pass(run, use_trace))
        if (
            time.perf_counter() - t_measure >= seconds
            and len(plain) >= MIN_PASSES
            and (not trace or len(traced) == len(plain))
        ):
            break

    info = {
        "workload": workload,
        "passes": len(plain),
        "traced_passes": len(traced),
        "settle_s_samples": settle,
        "pass_s_samples": plain,
        "query_s_median": {q: statistics.median(v) for q, v in run.query_s.items()},
        "failures": run.failures,
        "verify_s": verify_s,
        "measure_s": time.perf_counter() - t_measure,
    }
    if trace:
        metrics = layer_metrics(run.tracer, session_s, cores)
        metrics["session.peak_rss_mb"] = (jvm_peak_rss_mb(spark), "MB")
        metrics["trace.overhead_frac"] = (
            statistics.median(traced) / statistics.median(plain) - 1,
            "frac",
        )
        run.tracer.dump(spans_path, info)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (statistics.median(plain), "s"),
        }
    spark.stop()
    return {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "info": info,
    }


def layer_metrics(tracer, session_s: float, cores: int) -> dict:
    """Per-layer metrics: each summed over a traced pass, then the
    median over traced passes."""
    timed_passes = [s["id"] for s in tracer.spans if s["name"] == "pass" and s["kind"] == "timed"]
    parent_of = {s["id"]: s["parent"] for s in tracer.spans}
    per_pass = []
    for pid in timed_passes:
        pass_span = next(s for s in tracer.spans if s["id"] == pid)
        qs = [q for q in tracer.queries if parent_of[q["span"]] == pid]
        per_pass.append(pass_metrics(pass_span, qs, cores))
    out = {"session.start_s": (session_s, "s")}
    for key, (_, unit) in per_pass[0].items():
        out[key] = (statistics.median(p[key][0] for p in per_pass), unit)
    return out


def pass_metrics(pass_span: dict, queries: list[dict], cores: int) -> dict:
    def total(leaf: str, key: str) -> float:
        return sum(q.get(leaf, {}).get(key, 0.0) for q in queries)

    def both(key: str) -> float:
        return total("build", key) + total("execute", key)

    exec_s = total("execute", "seconds")
    batches = [p for q in queries for p in q["streaming"]]
    durations = [p["durationMs"] for p in batches]
    trigger_s = sum(d.get("triggerExecution", 0) for d in durations) / 1e3
    drain_s = sum(q["build"]["seconds"] for q in queries if q["streaming"])
    state_rows = 0
    for q in queries:
        last = {}
        for p in q["streaming"]:
            last[p["runId"]] = sum(op["numRowsTotal"] for op in p.get("stateOperators", []))
        state_rows += sum(last.values())
    batch_s = [d.get("triggerExecution", 0) / 1e3 for d in durations]
    return {
        "operators.build_s": (total("build", "seconds"), "s"),
        "operators.build_jobs": (total("build", "jobs"), "count"),
        "operators.build_tasks": (total("build", "tasks"), "count"),
        "operators.build_executor_s": (total("build", "executor_run_s"), "s"),
        "operators.py4j_calls": (total("build", "py4j_calls"), "count"),
        "catalyst.plan_s": (total("plan", "seconds"), "s"),
        "execute.s": (exec_s, "s"),
        "execute.jobs": (total("execute", "jobs"), "count"),
        "execute.tasks": (total("execute", "tasks"), "count"),
        "execute.failed_tasks": (total("execute", "failed_tasks"), "count"),
        "execute.executor_run_s": (total("execute", "executor_run_s"), "s"),
        "execute.executor_cpu_s": (total("execute", "executor_cpu_s"), "s"),
        "execute.gc_s": (total("execute", "gc_s"), "s"),
        "execute.core_busy_frac": (
            total("execute", "executor_run_s") / (exec_s * cores) if exec_s else 0.0,
            "frac",
        ),
        "execute.task_skew": (
            max((q["execute"]["task_skew"] for q in queries if "execute" in q), default=1.0),
            "ratio",
        ),
        "execute.shuffle_read_mb": (total("execute", "shuffle_read_mb"), "MB"),
        "execute.shuffle_write_mb": (total("execute", "shuffle_write_mb"), "MB"),
        "execute.spill_mb": (total("execute", "spill_mb"), "MB"),
        "sources.input_mb": (both("input_mb"), "MB"),
        "sources.input_rows": (both("input_rows"), "count"),
        "sources.output_mb": (both("output_mb"), "MB"),
        "streaming.batches": (len(batches), "count"),
        "streaming.empty_batches": (sum(p["numInputRows"] == 0 for p in batches), "count"),
        "streaming.trigger_s": (trigger_s, "s"),
        "streaming.batch_s_p50": (statistics.median(batch_s) if batch_s else 0.0, "s"),
        "streaming.add_batch_s": (sum(d.get("addBatch", 0) for d in durations) / 1e3, "s"),
        "streaming.log_commit_s": (
            sum(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in durations) / 1e3,
            "s",
        ),
        "streaming.state_commit_s": (
            sum(op.get("commitTimeMs", 0) for p in batches for op in p.get("stateOperators", []))
            / 1e3,
            "s",
        ),
        "streaming.state_rows": (state_rows, "count"),
        "streaming.overhead_s": (drain_s - trigger_s, "s"),
        "python_workers.rows": (sum(q["python_workers"]["rows"] for q in queries), "count"),
        "python_workers.mb_sent": (sum(q["python_workers"]["mb_sent"] for q in queries), "MB"),
        "python_workers.mb_received": (
            sum(q["python_workers"]["mb_received"] for q in queries),
            "MB",
        ),
        "trace.attributed_frac": (
            sum(q["jobs_in_window"] for q in queries)
            / max(1, pass_span["job_hi"] - pass_span["job_lo"]),
            "frac",
        ),
    }
