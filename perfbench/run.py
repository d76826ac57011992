"""Outside-in benchmark of the IoT engine.

    python3 perfbench/run.py --workload corpus_curation --seed 1 --seconds 5 --trace 0

Run from the repository root. Prints a host-record line, then as its
last line one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The full result (host record, per-pass
numbers, failures and, traced, every span) is written under
``.perfbench/results/``. See README.md in this directory.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sensor_dashboard", "corpus_curation", "stream_ingest")

E2E_METRICS = {
    "setup_s": "s",
    "spark_jobs_per_pass": "count",
    "peak_rss_mb": "MB",
    "jvm_heap_mb": "MB",
}


def layer_units() -> dict[str, str]:
    from workloads import INGEST_LAYER_METRICS, QUERY_LAYER_METRICS

    names = QUERY_LAYER_METRICS + INGEST_LAYER_METRICS + (
        "pass_s", "session.start_s", "session.warmup_s", "trace.overhead_s")
    units = {}
    for n in names:
        if n.endswith("_s") or n == "exec.s":
            units[n] = "s"
        elif n.endswith("_bytes"):
            units[n] = "bytes"
        elif n.endswith("_mb"):
            units[n] = "MB"
        elif n.endswith(("_growth", "_ratio")):
            units[n] = "ratio"
        else:
            units[n] = "count"
    return units


def configure_env(work: str) -> None:
    """Pin Spark to this host's cores and keep every file it writes
    inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"  # the JVM that builds the command
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"',
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell",
    ])


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a JVM that ignores stdin EOF is killed
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="write the verified digests to expected.json instead of checking them")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "metrocloud_data_pipeline_spark", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return run_once(args, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_once(args, base: str, work: str) -> int:
    import host as host_usage
    import workloads
    from workloads import Run

    # inputs are written by a child process before Spark starts: the
    # engine receives only files, and the generator's memory stays out of
    # this process's peak
    inputs = os.path.join(work, "inputs")
    cpu0 = host_usage.cpu_times()
    t = time.perf_counter()
    subprocess.run([sys.executable, os.path.join(HERE, "datagen.py"), "--out", inputs, "--seed", str(args.seed)]
                   + (["--backlog"] if args.workload == "stream_ingest" else []), check=True)
    inputs_s = time.perf_counter() - t
    with open(os.path.join(inputs, "manifest.json")) as f:
        manifest = json.load(f)
    tables = manifest["tables_dir"]
    configure_env(work)

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work, T_START, inputs_s)
    expected_path = os.path.join(HERE, "expected.json")
    with open(expected_path) as f:
        expected = json.load(f)
    try:
        run.set_up()
        host = run.host(manifest["data"])
        if args.workload == "sensor_dashboard":
            res = workloads.run_queries(run, workloads.DASHBOARD_KEYS, tables, expected, args.record, False)
        elif args.workload == "corpus_curation":
            res = workloads.run_queries(run, tuple(workloads.CURATION_KEYS), tables, expected, args.record, True)
        else:
            res = workloads.run_ingest(run, manifest)
        heaps = workloads.jvm_heap_mb(run.spark)
        heap = heaps[-1]
        rss = host_usage.peak_rss_mb(os.getpid())
        jvm_rss = host_usage.peak_rss_mb(*host_usage.process_tree()[1:])
        steal = host_usage.steal_share(cpu0, host_usage.cpu_times())
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
    run.mark("stopped")

    if args.trace:
        values = dict(res["layers"])
        values["session.start_s"] = run.setup["session.start_s"]
        values["session.warmup_s"] = run.setup["session.warmup_s"]
        units = layer_units()
    else:
        values = {"setup_s": run.setup["setup_s"], **res["e2e"], "peak_rss_mb": rss, "jvm_heap_mb": heap}
        units = E2E_METRICS
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}

    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    out = os.path.join(base, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json")
    detail = {k: v for k, v in res.items() if k not in ("e2e", "layers")}
    with open(out, "w") as f:
        json.dump({"host": host, "metrics": metrics, "setup": run.setup, "peak_rss_mb": rss, "jvm_heap_mb": heaps,
                   "jvm_peak_rss_mb": jvm_rss, "cpu_steal_share": steal, "phases_s": {"inputs": inputs_s, **run.marks},
                   "attempted": run.attempted, "failed": run.failed, "failures": run.failures,
                   **detail, "spans": run.tracer.dump()}, f, indent=1, default=str)
    for line in run.failures:
        print(f"perfbench: failed {line}", file=sys.stderr)
    print(json.dumps({"host": host, "result_file": os.path.relpath(out, ROOT)}))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
