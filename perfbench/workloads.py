"""The three workloads, driven only through the engine's public functions:
``queries.get_queries()`` builders plus a noop action,
``streaming.pipeline.run_ingest_stream`` and
``operators.maintenance.refresh_bucket_aggregate``.

Every workload is a closed loop with one client: the next operation
starts when the previous one has finished. A run first sets up once:
session, registry, then a warm-up that runs each of the workload's
operations once and checks what it returned. Then it times whole passes
until ``seconds`` have gone by. With tracing on, traced and untraced
passes alternate, so one run gives both the per-layer numbers and the
tracing overhead.
"""

from __future__ import annotations

import datetime
import gc
import json
import os
import platform
import random
import time
import traceback

import stats
from spans import JobLedger, Span, Tracer, children, self_times, trace_error

# Dashboard traffic: one key per family of the sensor dashboard (latest
# values, per-device rollups, daily quality, sessions, intervals,
# alerting), few enough that a run fits the benchmark's time budget.
DASHBOARD_KEYS = (
    "q1_latest_readings",
    "a1_device_summary",
    "a9_daily_quality",
    "w4_user_sessions",
    "iv_error_windows",
    "obs_alert_firing",
)

# Corpus curation: each key with the llm module its builder lives in.
CURATION_KEYS = {
    "kn_trigram_surprisal": "llm.text",
    "dedup_exact": "llm.dedup",
    "knn_join_ivf": "llm.similarity",
}

HEAP_GC_ROUNDS = 3
HEAP_GC_PAUSE_S = 0.5
PREFILL_FILES = 2  # backlog files landed untimed, one per micro-batch, before the timed passes

# The self times of an operation's spans must match its independently
# measured wall time within the larger of these. Spark's addBatch clock
# also covers the py4j callback into Python, about 50 ms before the
# foreachBatch body's span opens.
TRACE_TOL_S = 0.1
TRACE_TOL_SHARE = 0.02

QUERY_LAYER_METRICS = (
    "queries.build_s", "queries.build_jobs", "sources.load_calls", "sources.load_s",
    "llm.text.build_jobs", "llm.dedup.build_s", "llm.similarity.exec_s",
    "exec.s", "exec.jobs", "exec.tasks", "exec.shuffle_bytes", "exec.spill_bytes",
    "exec.python_stage_s",
)
INGEST_LAYER_METRICS = (
    "streaming.batch_s", "streaming.engine_s", "streaming.jobs_per_batch",
    "ingest.normalize_build_s", "ingest.materialize_s",
    "maintenance.append_s", "maintenance.append_jobs", "maintenance.append_growth",
    "maintenance.append_kept_ratio", "maintenance.partition_write_s",
    "quality.batch_metrics_s", "maintenance.refresh_s", "maintenance.refresh_jobs",
)


class Run:
    """State of one benchmark run: the session, the counts of operations
    attempted and failed, and the tracer."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str, t_start: float,
                 inputs_s: float):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.t_start = t_start
        self.inputs_s = inputs_s
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None
        self.queries = None
        self.tracer = Tracer()
        self.setup: dict = {}
        self.marks: dict[str, float] = {}  # phase -> seconds since interpreter start

    def mark(self, phase: str) -> None:
        self.marks[phase] = time.perf_counter() - self.t_start

    def attempt(self, what: str, fn):
        """Run one operation; an exception counts it as failed."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # the run goes on and reports the failure
            self.fail(what, traceback.format_exc(limit=4))
            return None

    def fail(self, what: str, detail: str) -> None:
        self.failed += 1
        self.failures.append(f"{what}: {detail}")

    # --- set-up -----------------------------------------------------------

    def set_up(self) -> None:
        """Build the session and import the registry. The set-up goes on
        into the workload's own check phase and ends at ``warmed``."""
        from metrocloud_data_pipeline_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t
        from metrocloud_data_pipeline_spark.queries import get_queries

        self.queries = get_queries()
        self.tracer.sc = self.spark.sparkContext
        self.setup = {"session.start_s": start_s}
        self._warmup_t0 = time.perf_counter()

    def warmed(self) -> None:
        """End of set-up: the workload has run each of its operations once,
        untimed, and checked what they returned. setup_s runs from
        interpreter start (JVM launch included) to here, less the time the
        benchmark spent writing its own inputs."""
        self.setup["session.warmup_s"] = time.perf_counter() - self._warmup_t0
        self.mark("set_up")
        self.setup["setup_s"] = self.marks["set_up"] - self.inputs_s

    def check_trace(self, op: str, root: Span, wall_s: float) -> None:
        """Fail the run when the spans of one operation do not account for
        its wall time."""
        err = trace_error(self.tracer.spans, root, wall_s, max(TRACE_TOL_S, TRACE_TOL_SHARE * wall_s))
        if err:
            self.fail(f"trace {op}", err)

    def host(self, data: str) -> dict:
        sc = self.spark.sparkContext
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "spark": self.spark.version,
            "python": platform.python_version(),
            "data": data,
            "workload": self.workload,
            "seed": self.seed,
            "trace": int(self.trace),
        }

    def timed_passes(self, one_pass) -> list[dict]:
        """Run whole passes until ``seconds`` have gone by (at least one,
        and with tracing at least four). With tracing, traced and untraced
        passes alternate in ABBA order (traced, untraced, untraced,
        traced, ...), so neither side always gets the earlier, less warm
        passes or, on ingest, the smaller store."""
        passes = []
        t0 = time.perf_counter()
        while True:
            traced = self.trace and len(passes) % 4 in (0, 3)
            self.tracer.active = traced
            p = {"traced": traced, "index": len(passes)}
            jobs = jobs_started(self.spark)
            t = time.perf_counter()
            one_pass(p)
            p["wall_s"] = time.perf_counter() - t
            p["jobs"] = jobs_started(self.spark) - jobs
            self.tracer.active = False
            passes.append(p)
            enough = time.perf_counter() - t0 >= self.seconds
            if enough and (not self.trace or len(passes) >= 4) or p.get("exhausted"):
                return passes


def jvm_heap_mb(spark) -> list[float]:
    """Heap the driver JVM still holds after full collections: what the
    run left live (cached blocks, broadcasts, the status store), without
    the garbage, whose amount depends on when the collector last ran.
    Python's collector runs first, so JVM objects held only by dropped
    Python proxies are released, and each round waits for Spark's
    context cleaner to drop what the previous collection orphaned.
    Returns the reading of every round; the last is the figure."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    out = []
    for _ in range(HEAP_GC_ROUNDS):
        gc.collect()
        jvm.java.lang.System.gc()
        time.sleep(HEAP_GC_PAUSE_S)
        out.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
    jvm.java.lang.System.gc()
    out.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
    return out


def jobs_started(spark) -> int:
    """Spark jobs the driver has started so far, from every thread (the
    stream's micro-batches run on a thread of their own)."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def pass_metrics(passes: list[dict]) -> dict:
    """The end-to-end metric of the timed passes: the Spark jobs one pass
    starts (median over passes)."""
    return {"spark_jobs_per_pass": stats.median([p["jobs"] for p in passes])}


def best_pass_s(passes: list[dict]) -> float:
    """Wall time of the fastest untraced timed pass (of any pass when all
    were traced). Other guests on a shared host only ever add time, and
    they slow whole stretches of a run, so the fastest pass is the least
    disturbed; the median moves with how much of the run such a stretch
    covers."""
    untraced = [p["wall_s"] for p in passes if not p["traced"]]
    return min(untraced or [p["wall_s"] for p in passes])


# --- query workloads -----------------------------------------------------------


def digest(df) -> list:
    """Row count plus an order-insensitive hash of the rows."""
    from pyspark.sql import functions as F

    h = F.xxhash64(F.to_json(F.struct(*[df[c] for c in df.columns])))
    row = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("h").cast("decimal(38,0)")).alias("s")
    ).first()
    return [int(row["n"]), str(row["s"])]


def run_queries(run: Run, keys, tables_dir: str, expected: dict, record: bool, clear_cache: bool) -> dict:
    """Dashboard or curation loop over ``keys``. Returns the end-to-end
    metrics and, traced, the layers.

    The seed picks where in the cycle of ``keys`` a run starts, and every
    pass follows the cycle from there, so each key always runs right after
    the same key. With a fresh shuffle per pass, pass_s depended on the
    order: ``dedup_minhash`` runs about 1 s slower right after
    ``kn_trigram_surprisal``."""
    import metrocloud_data_pipeline_spark.queries as Q

    spark, qs = run.spark, run.queries
    start = run.rng.randrange(len(keys))
    order = list(keys[start:]) + list(keys[:start])
    observed, verify_s = {}, {}
    for key in order:
        t = time.perf_counter()
        got = run.attempt(f"verify {key}", lambda: digest(qs[key](spark, tables_dir)))
        verify_s[key] = time.perf_counter() - t
        if got is None:
            continue
        observed[key] = got
        if not record and expected.get(key) != got:
            run.fail(f"verify {key}", f"digest {got} != expected {expected.get(key)}")
    if clear_cache:
        spark.catalog.clearCache()
    run.warmed()

    ledger = JobLedger(spark.sparkContext) if run.trace else None
    latencies: list[float] = []

    def one_pass(p):
        p["ops"] = []
        for key in order:
            op = f"p{p['index']}-{key}"

            def call():
                t = time.perf_counter()
                with run.tracer.span("query", op) as root:
                    with run.tracer.span("build"):
                        df = qs[key](spark, tables_dir)
                    with run.tracer.span("exec"):
                        df.write.format("noop").mode("overwrite").save()
                return time.perf_counter() - t, root

            out = run.attempt(f"query {key}", call)
            if out is None:
                continue
            latencies.append(out[0])
            rec = {"key": key, "s": out[0]}
            if out[1] is not None:
                run.check_trace(op, out[1], out[0])
                rec.update(_query_op_record(run, ledger, key, op, out[1]))
            p["ops"].append(rec)
        if clear_cache:
            spark.catalog.clearCache()

    with run.tracer.wrap(Q, "load", "sources.load"):
        passes = run.timed_passes(one_pass)
    run.mark("timed")
    if record:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json"), "w") as f:
            json.dump({**expected, **observed}, f, indent=1, sort_keys=True)
            f.write("\n")
    result = {
        "passes": passes,
        "verify_s": verify_s,
        "latencies_s": latencies,
        "e2e": pass_metrics(passes),
        "detail": {
            "pass_s": best_pass_s(passes),
            "pass_p50_s": stats.median([p["wall_s"] for p in passes]),
            "query_p50_s": stats.median(latencies),
            "query_latency": stats.summarize(latencies),
            "queries_per_s": len(latencies) / sum(p["wall_s"] for p in passes),
        },
    }
    if run.trace:
        result["layers"] = _query_layers(passes)
    return result


def _query_op_record(run: Run, ledger: JobLedger, key: str, op: str, root: Span) -> dict:
    """Per-layer numbers of one traced query operation."""
    spans = run.tracer.spans
    selfs = self_times(spans[root.id:])
    kids = children(spans[root.id:])
    build = next(s for s in kids.get(root.id, []) if s.name == "build")
    exec_ = next(s for s in kids.get(root.id, []) if s.name == "exec")
    loads = [s for s in spans[root.id:] if s.name == "sources.load" and s.op == op]
    build_jobs = ledger.job_ids(f"{op}:build") - ledger.job_ids(f"{op}:sources.load")
    exec_use = ledger.usage(ledger.job_ids(f"{op}:exec"))
    return {
        "module": CURATION_KEYS.get(key),
        "wall_s": root.dur,
        "build_self_s": selfs[build.id],
        "build_jobs": len(build_jobs),
        "load_calls": len(loads),
        "load_s": sum(selfs[s.id] for s in loads),
        "exec_s": exec_.dur,
        "exec": exec_use,
    }


def _query_layers(passes: list[dict]) -> dict:
    per_pass = []
    for p in passes:
        if not p["traced"]:
            continue
        ops = [o for o in p["ops"] if "wall_s" in o]
        by_mod = lambda m, f: sum(f(o) for o in ops if o["module"] == m)  # noqa: E731
        per_pass.append({
            "queries.build_s": sum(o["build_self_s"] for o in ops),
            "queries.build_jobs": sum(o["build_jobs"] for o in ops),
            "sources.load_calls": sum(o["load_calls"] for o in ops),
            "sources.load_s": sum(o["load_s"] for o in ops),
            "llm.text.build_jobs": by_mod("llm.text", lambda o: o["build_jobs"]),
            "llm.dedup.build_s": by_mod("llm.dedup", lambda o: o["build_self_s"]),
            "llm.similarity.exec_s": by_mod("llm.similarity", lambda o: o["exec_s"]),
            "exec.s": sum(o["exec_s"] for o in ops),
            "exec.jobs": sum(o["exec"]["jobs"] for o in ops),
            "exec.tasks": sum(o["exec"]["tasks"] for o in ops),
            "exec.shuffle_bytes": sum(o["exec"]["shuffle_bytes"] for o in ops),
            "exec.spill_bytes": sum(o["exec"]["spill_bytes"] for o in ops),
            "exec.python_stage_s": sum(o["exec"]["python_stage_s"] for o in ops),
        })
    layers = {m: stats.median([pp[m] for pp in per_pass]) for m in QUERY_LAYER_METRICS}
    layers.update({m: 0.0 for m in INGEST_LAYER_METRICS})  # the write path is idle
    layers["pass_s"] = best_pass_s(passes)
    layers["trace.overhead_s"] = (stats.median([p["wall_s"] for p in passes if p["traced"]])
                                  - stats.median([p["wall_s"] for p in passes if not p["traced"]]))
    return layers


# --- streaming ingest -------------------------------------------------------


def run_ingest(run: Run, inputs: dict) -> dict:
    """Drain the backlog through one ingest stream, one file per
    micro-batch: a file is released only when the previous batch has
    committed, and after each batch the hourly aggregate of the touched
    days is refreshed. One pass is one batch and its refresh. ``inputs``
    is the manifest ``datagen.py`` wrote."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming import DataStreamWriter

    from metrocloud_data_pipeline_spark.operators import ingest, maintenance, quality
    from metrocloud_data_pipeline_spark.streaming import pipeline

    spark, tracer = run.spark, run.tracer
    days = [datetime.date.fromisoformat(d) for d in inputs["days"]]
    per_message = inputs["readings_per_message"]
    pending = list(inputs["backlog"])
    s = {k: os.path.join(run.work, "store", k) for k in ("src", "table", "ck", "rejects", "metrics", "agg")}
    os.makedirs(s["src"])
    orig_fb = DataStreamWriter.foreachBatch

    def traced_foreach_batch(writer, func):
        def body(df, batch_id):
            with tracer.span("batch", f"batch-{batch_id}"):
                return func(df, batch_id)

        return orig_fb(writer, body)

    DataStreamWriter.foreachBatch = traced_foreach_batch
    try:
        query = pipeline.run_ingest_stream(
            pipeline.stream_raw_files(spark, s["src"], 1), s["table"], s["ck"],
            rejects_path=s["rejects"], metrics_path=s["metrics"], anchor=inputs["anchor"],
            available_now=False, processing_time="50 milliseconds",
        )
    finally:
        DataStreamWriter.foreachBatch = orig_fb

    ledger = JobLedger(spark.sparkContext) if run.trace else None
    consumed: list[dict] = []
    batches: list[dict] = []
    refreshes: list[dict] = []

    def commit(f: dict) -> dict:
        """Release one file and block until its micro-batch has committed."""
        os.rename(f["path"], os.path.join(s["src"], os.path.basename(f["path"])))
        query.processAllAvailable()
        done = [p for p in query.recentProgress if p["numInputRows"] > 0]
        if len(done) != len(consumed) + 1:
            raise RuntimeError(f"expected {len(consumed) + 1} committed micro-batches, found {len(done)}")
        consumed.append(f)
        return done[-1]

    def refresh():
        maintenance.refresh_bucket_aggregate(spark, s["table"], s["agg"], days=days)

    def prefill() -> list[float]:
        """The warm-up, which ends the set-up: land the first backlog
        files before the timed passes, so every timed batch anti-joins
        against a populated day partition. These micro-batches and the
        refresh after them also pay for the JVM's class loading, code
        generation and JIT compilation."""
        out = []
        for f in pending[:PREFILL_FILES]:
            prog = run.attempt("prefill micro-batch", lambda: commit(f))
            if prog is not None:
                out.append(prog["durationMs"]["triggerExecution"] / 1000.0)
        del pending[:PREFILL_FILES]
        run.attempt("prefill refresh", refresh)
        run.warmed()
        return out

    def one_pass(p):
        f = pending.pop(0)
        tracer.active = p["traced"]
        prog = run.attempt("micro-batch", lambda: commit(f))
        if prog is None:
            tracer.active = False
            p["exhausted"] = True  # the stream is broken; end the run
            return
        batches.append({"pass": p["index"], "traced": p["traced"], "id": prog["batchId"],
                        "trigger_s": prog["durationMs"]["triggerExecution"] / 1000.0,
                        "add_batch_s": prog["durationMs"].get("addBatch", 0) / 1000.0})
        k = len(refreshes)
        t = time.perf_counter()
        with tracer.span("maintenance.refresh", f"refresh-{k}"):
            run.attempt("refresh", refresh)
        refreshes.append({"pass": p["index"], "traced": p["traced"], "s": time.perf_counter() - t, "op": f"refresh-{k}"})
        tracer.active = False
        if run.trace:
            _ingest_trace_records(run, ledger, batches, refreshes)
        p["exhausted"] = not pending

    try:
        prefill_s = prefill()
        with tracer.wrap(ingest, "normalize_raw", "ingest.normalize_raw"), \
                tracer.wrap(maintenance, "idempotent_append", "maintenance.append"), \
                tracer.wrap(maintenance, "write_partitioned", "maintenance.partition_write"), \
                tracer.wrap(maintenance, "overwrite_batch_partition", "maintenance.partition_write"), \
                tracer.wrap(quality, "batch_metrics", "quality.batch_metrics"):
            passes = run.timed_passes(one_pass)
    finally:
        query.stop()
    run.mark("timed")

    def check():
        landed = spark.read.parquet(s["table"]).count()
        for what, got, exp in (
            ("landed readings", landed, per_message * sum(f["new_unique_valid"] for f in consumed)),
            ("rejected readings", spark.read.parquet(s["rejects"]).count(),
             per_message * sum(f["invalid"] for f in consumed)),
            ("metrics rows_in", spark.read.parquet(s["metrics"]).agg(F.sum("rows_in")).first()[0],
             per_message * sum(f["messages"] for f in consumed)),
            ("aggregate reading_count", spark.read.parquet(s["agg"]).agg(F.sum("reading_count")).first()[0], landed),
        ):
            run.attempted += 1
            if got != exp:
                run.fail(f"check {what}", f"{got} != {exp}")
        timed = consumed[PREFILL_FILES:]
        return per_message * sum(f["new_unique_valid"] for f in timed)

    landed = run.attempt("ingest checks", check) or 0
    drain_s = sum(p["wall_s"] for p in passes)
    trig = [b["trigger_s"] for b in batches]
    result = {
        "passes": passes,
        "batches": batches,
        "refreshes": refreshes,
        "e2e": pass_metrics(passes),
        "detail": {
            "pass_s": best_pass_s(passes),
            "pass_p50_s": stats.median([p["wall_s"] for p in passes]),
            "ingest_readings_per_s": landed / drain_s,
            "ingest_batch_p50_s": stats.median(trig),
            "ingest_batch": stats.summarize(trig),
            "refresh_p50_s": stats.median([r["s"] for r in refreshes]),
            "prefill_batches_s": prefill_s,
            "files_timed": len(batches),
        },
    }
    if run.trace:
        result["layers"] = {**_ingest_layers(batches, refreshes), "pass_s": best_pass_s(passes)}
    return result


def _ingest_trace_records(run: Run, ledger: JobLedger, batches, refreshes) -> None:
    """Attach per-layer numbers to the traced batches and refreshes that
    have none yet. A batch's root span is its foreachBatch body; Spark's
    addBatch duration is the independent clock the spans must add up to,
    and the rest of the trigger is the streaming engine's own time."""
    spans = run.tracer.spans
    for b in batches:
        if not b["traced"] or "layers" in b:
            continue
        op = f"batch-{b['id']}"
        body = next(sp for sp in spans if sp.op == op and sp.name == "batch")
        run.check_trace(op, body, b["add_batch_s"])
        sub = [sp for sp in spans if sp.op == op]
        selfs = self_times(sub)
        named = lambda n: [sp for sp in sub if sp.name == n]  # noqa: E731
        appends = named("maintenance.append")
        metrics = named("quality.batch_metrics")
        append_jobs = ledger.job_ids(f"{op}:maintenance.append") - ledger.job_ids(f"{op}:maintenance.partition_write")
        b["layers"] = {
            "streaming.batch_s": b["trigger_s"],
            "streaming.engine_s": b["trigger_s"] - b["add_batch_s"],
            "streaming.jobs_per_batch": len(ledger.job_ids(f"{op}:batch")),
            "ingest.normalize_build_s": sum(selfs[sp.id] for sp in named("ingest.normalize_raw")),
            "ingest.materialize_s": selfs[body.id],
            "maintenance.append_s": sum(selfs[sp.id] for sp in appends),
            "maintenance.append_jobs": len(append_jobs),
            "maintenance.partition_write_s": sum(sp.dur for sp in named("maintenance.partition_write")),
            "quality.batch_metrics_s": sum(selfs[sp.id] for sp in metrics),
            "append_total_s": sum(sp.dur for sp in appends),
            "inserted": sum(sp.result or 0 for sp in appends),
            "offered": sum(sp.result["rows_valid"] for sp in metrics if sp.result),
        }
    for r in refreshes:
        if r["traced"] and "jobs" not in r:
            r["jobs"] = len(ledger.job_ids(f"{r['op']}:maintenance.refresh"))


def _ingest_layers(batches, refreshes) -> dict:
    traced = [b["layers"] for b in batches if "layers" in b]
    med = lambda k: stats.median([t[k] for t in traced])  # noqa: E731
    appends = [t["append_total_s"] for t in traced]
    n = max(1, min(10, len(appends) // 2))
    layers = {m: med(m) for m in (
        "streaming.batch_s", "streaming.engine_s", "streaming.jobs_per_batch",
        "ingest.normalize_build_s", "ingest.materialize_s", "maintenance.append_s",
        "maintenance.append_jobs", "maintenance.partition_write_s", "quality.batch_metrics_s",
    )}
    layers["maintenance.append_growth"] = stats.median(appends[-n:]) / stats.median(appends[:n])
    offered = sum(t["offered"] for t in traced)
    layers["maintenance.append_kept_ratio"] = sum(t["inserted"] for t in traced) / offered if offered else 0.0
    tr = [r for r in refreshes if r["traced"]]
    layers["maintenance.refresh_s"] = stats.median([r["s"] for r in tr])
    layers["maintenance.refresh_jobs"] = stats.median([r["jobs"] for r in tr])
    layers.update({m: 0.0 for m in QUERY_LAYER_METRICS})  # the query path is idle
    layers["trace.overhead_s"] = (stats.median([b["trigger_s"] for b in batches if b["traced"]])
                                  - stats.median([b["trigger_s"] for b in batches if not b["traced"]]))
    return layers
