"""Per-query drill-down: median wall time, Spark job/stage/task counts
and, with --timeline, a STAGE TIMELINE: for each named query's final
run, every stage's (submission, completion) window from the status
tracker — the view that separates "many jobs, serialized" from "many
jobs, overlapped" and shows where a job-count-bound query's wall time
goes.

Usage: python tools/probe.py [--runs N] [--sf DIR] [--timeline]
                             name [name ...]
Always probes the sentinel h1_pricing_summary FIRST so every invocation
carries its own normalization anchor.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


class Counter:
    """Status-tracker snapshot: job/stage/task counts plus, optionally,
    the per-stage (submit, complete) timeline of the run."""

    def __init__(self, spark):
        self.spark = spark
        self.reset()

    def reset(self):
        tracker = self.spark.sparkContext.statusTracker()
        self._jobs0 = set(tracker.getJobIdsForGroup(None) or [])

    def snapshot(self, timeline: bool = False):
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        jobs = sorted(set(tracker.getJobIdsForGroup(None) or []) - self._jobs0)
        stages = 0
        tasks = 0
        spans = []
        store = sc._jsc.sc().statusStore()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = tracker.getStageInfo(s)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
                if timeline:
                    try:
                        jvm = sc._jvm
                        empty_list = jvm.java.util.ArrayList()
                        empty_arr = sc._gateway.new_array(jvm.double, 0)
                        seq = store.stageData(
                            int(s), False, empty_list, False, empty_arr
                        )
                    except Exception as ex:
                        print(f"  [timeline err stage {s}: {ex}]"[:120])
                        continue
                    if seq.isEmpty():
                        continue
                    sd = seq.apply(0)
                    sub = sd.submissionTime()
                    com = sd.completionTime()
                    spans.append(
                        {
                            "job": j,
                            "stage": s,
                            "name": str(sd.name())[:60],
                            "tasks": int(sd.numTasks()),
                            "submit_ms": int(sub.get().getTime()) if sub.isDefined() else None,
                            "complete_ms": int(com.get().getTime()) if com.isDefined() else None,
                        }
                    )
        out = {"jobs": len(jobs), "stages": stages, "tasks": tasks}
        if timeline:
            t0 = min(
                (s["submit_ms"] for s in spans if s["submit_ms"]), default=0
            )
            for s in spans:
                if s["submit_ms"]:
                    s["t0_s"] = round((s["submit_ms"] - t0) / 1000.0, 3)
                if s["complete_ms"]:
                    s["t1_s"] = round((s["complete_ms"] - t0) / 1000.0, 3)
                del s["submit_ms"], s["complete_ms"]
            out["timeline"] = sorted(
                spans, key=lambda s: (s.get("t0_s") or 0.0, s["stage"])
            )
        return out


def main() -> None:
    args = sys.argv[1:]
    runs = 3
    sf = SF
    timeline = False
    names = []
    it = iter(args)
    for a in it:
        if a == "--runs":
            runs = int(next(it))
        elif a == "--sf":
            sf = next(it)
        elif a == "--timeline":
            timeline = True
        else:
            names.append(a)

    from metrocloud_data_pipeline_spark.queries import get_queries
    from metrocloud_data_pipeline_spark.session import get_spark

    spark = get_spark("probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = get_queries()

    # warmup (bench parity)
    for w in ("a6_table_stats", "h1_pricing_summary", "media_feature_extract",
              "knn_brute_force", "knn_join_ivf"):
        qs[w](spark, sf).write.format("noop").mode("overwrite").save()

    out = {}
    for name in ["h1_pricing_summary"] + [n for n in names if n != "h1_pricing_summary"]:
        samples = []
        meta = None
        for i in range(runs):
            c = Counter(spark)
            spark.sparkContext.setJobDescription(f"probe:{name}")
            t0 = time.perf_counter()
            qs[name](spark, sf).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            spark.sparkContext.setJobDescription(None)
            samples.append(dt)
            want_tl = timeline and i == runs - 1
            meta = c.snapshot(timeline=want_tl)
            gc.collect()
        rec = {
            "median_s": round(statistics.median(samples), 3),
            "all_s": [round(s, 3) for s in samples],
            "jobs": meta["jobs"],
            "stages": meta["stages"],
            "tasks": meta["tasks"],
        }
        out[name] = rec
        print(name, json.dumps(rec), flush=True)
        if timeline and meta.get("timeline"):
            for s in meta["timeline"]:
                print(
                    f"  stage {s['stage']:>5} job {s['job']:>4} "
                    f"[{s.get('t0_s', '?'):>7} -> {s.get('t1_s', '?'):>7}] "
                    f"{s['tasks']:>4}t  {s['name']}",
                    flush=True,
                )


if __name__ == "__main__":
    main()
