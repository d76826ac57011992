"""Self-tests of the benchmark that need no Spark.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

import compare
import datagen
import run
import spans
import stats
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_percentile_matches_linear_interpolation():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == pytest.approx(50.5)
    assert stats.percentile(xs, 90) == pytest.approx(90.1)
    assert stats.percentile([3.0], 90) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize("n, q", [(1000, 99.0), (200, 95.0), (100, 90.0), (99, 75.0), (40, 75.0), (39, None), (3, None)])
def test_tail_percentile_needs_ten_samples_beyond(n, q):
    assert stats.highest_tail(n) == q


def test_summarize_states_sample_count_and_omits_unsupported_tail():
    s = stats.summarize([1.0, 2.0, 3.0])
    assert s == {"n": 3, "p50": 2.0, "tail_q": None}
    s = stats.summarize([float(i) for i in range(100)])
    assert s["n"] == 100 and s["tail_q"] == 90.0 and s["tail"] == pytest.approx(89.1)


def _host(**kw):
    h = {"nproc": 4, "master": "local[4]", "default_parallelism": 4, "shuffle_partitions": "4",
         "spark": "4.1.2", "python": "3.11.7", "data": "d", "workload": "w", "seed": 1, "trace": 0}
    h.update(kw)
    return h


def test_host_gate_refuses_other_hosts_but_not_other_seeds():
    assert stats.host_mismatch(_host(), _host(seed=2)) == []
    assert stats.host_mismatch(_host(), _host(nproc=32, master="local[32]")) == ["nproc", "master"]
    missing = _host()
    del missing["spark"]
    assert stats.host_mismatch(_host(), missing) == ["spark"]
    assert compare.refusal([{"host": _host()}, {"host": _host(seed=9)}]) is None
    assert "nproc" in compare.refusal([{"host": _host()}, {"host": _host(nproc=8)}])
    assert "workload" in compare.refusal([{"host": _host()}, {"host": _host(workload="x")}])


def test_compare_exits_2_on_host_mismatch(tmp_path, capsys):
    metrics = {"pass_s": {"value": 1.0, "unit": "s"}}
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps({"host": _host(), "metrics": metrics}))
    b.write_text(json.dumps({"host": _host(nproc=32), "metrics": metrics}))
    assert compare.main(["--base", str(a), "--new", str(b)]) == 2
    assert compare.main(["--base", str(a), "--new", str(a)]) == 0
    assert "pass_s" in capsys.readouterr().out


def _bytes(directory):
    return {f: (directory / f).read_bytes() for f in sorted(os.listdir(directory))}


def test_backlog_is_byte_identical_per_seed(tmp_path):
    m1 = datagen.write_backlog(str(tmp_path / "a"), seed=5, files=3, messages_per_file=200)
    m2 = datagen.write_backlog(str(tmp_path / "b"), seed=5, files=3, messages_per_file=200)
    datagen.write_backlog(str(tmp_path / "c"), seed=6, files=3, messages_per_file=200)
    assert _bytes(tmp_path / "a") == _bytes(tmp_path / "b")
    assert _bytes(tmp_path / "a") != _bytes(tmp_path / "c")
    assert [(f.messages, f.invalid, f.new_unique_valid) for f in m1] == [
        (f.messages, f.invalid, f.new_unique_valid) for f in m2
    ]


def test_backlog_manifest_matches_file_contents(tmp_path):
    manifest = datagen.write_backlog(str(tmp_path), seed=3, files=4, messages_per_file=300)
    seen = set()
    for f in manifest:
        t = pq.read_table(f.path).to_pylist()
        assert len(t) == f.messages
        assert sum(r["device_id"] is None for r in t) == f.invalid
        keys = {(r["device_id"], r["timestamp"]) for r in t if r["device_id"] is not None}
        assert len(keys - seen) == f.new_unique_valid
        seen |= keys
        day0 = datagen._DAY0
        assert all(day0 - 43_200 < int(r["timestamp"]) < day0 + 86_400 for r in t)
    assert manifest[1].messages > manifest[1].new_unique_valid + manifest[1].invalid  # redeliveries


def test_tables_are_byte_identical(tmp_path):
    datagen.write_tables(str(tmp_path / "a"))
    datagen.write_tables(str(tmp_path / "b"))
    assert _bytes(tmp_path / "a") == _bytes(tmp_path / "b")
    events = pq.read_table(str(tmp_path / "a" / "events.parquet")).column("ts").to_pylist()
    assert events == sorted(set(events))  # strictly increasing: ordered picks need unique ts


def test_metric_names_follow_the_grammar():
    names = list(run.E2E_METRICS) + list(run.layer_units())
    assert stats.bad_metric_names(names) == []
    assert stats.bad_metric_names(["ok.name_1-x", "bad name", "bad/slash", ""]) == ["bad name", "bad/slash", ""]


def test_benchmark_json_lists_every_printed_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_METRICS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.layer_units()
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


def test_pass_metrics_take_the_fastest_untraced_pass_and_the_median_job_count():
    passes = [{"traced": True, "wall_s": 1.0, "jobs": 9}, {"traced": False, "wall_s": 3.0, "jobs": 7},
              {"traced": False, "wall_s": 2.0, "jobs": 7}]
    assert workloads.best_pass_s(passes) == 2.0
    assert workloads.best_pass_s(passes[:1]) == 1.0  # every pass traced
    assert workloads.pass_metrics(passes) == {"spark_jobs_per_pass": 7}


def test_trace_check_accepts_nested_spans_that_match_the_wall_clock():
    t = spans.Tracer()
    t.active = True
    with t.span("query", "op1") as root:
        with t.span("build"):
            with t.span("sources.load"):
                pass
        with t.span("exec"):
            pass
    assert spans.trace_error(t.spans, root, root.dur, 1e-6) is None
    assert sum(spans.self_times(t.spans).values()) == pytest.approx(root.dur)
    assert [s.op for s in t.spans] == ["op1"] * 4
    assert t.spans[2].parent == t.spans[1].id


def _tree(*spec):
    """Spans from (name, parent, start, end) tuples, ids in order."""
    return [spans.Span(i, name, "op", parent, start, end) for i, (name, parent, start, end) in enumerate(spec)]


def test_trace_check_fails_on_wall_clock_mismatch_escape_overlap_and_open_span():
    ok = _tree(("root", None, 0.0, 1.0), ("a", 0, 0.1, 0.4), ("b", 0, 0.5, 0.9))
    assert spans.trace_error(ok, ok[0], 1.0, 0.01) is None
    assert "wall time" in spans.trace_error(ok, ok[0], 1.5, 0.01)  # spans miss part of the operation
    escaped = _tree(("root", None, 0.0, 1.0), ("a", 0, 0.5, 1.2))
    assert "outside its parent" in spans.trace_error(escaped, escaped[0], 1.0, 0.01)
    overlap = _tree(("root", None, 0.0, 1.0), ("a", 0, 0.0, 0.7), ("b", 0, 0.3, 1.0))
    assert spans.self_times(overlap)[0] == pytest.approx(-0.4)  # children are not clipped
    assert "overlap" in spans.trace_error(overlap, overlap[0], 1.0, 0.01)
    open_ = _tree(("root", None, 0.0, 1.0), ("a", 0, 0.1, float("nan")))
    assert spans.trace_error(open_, open_[0], 1.0, 0.01) is not None


def test_datagen_cli_writes_manifest_of_its_files(tmp_path):
    assert datagen.main(["--out", str(tmp_path), "--seed", "4", "--backlog"]) == 0
    m = json.loads((tmp_path / "manifest.json").read_text())
    assert sorted(os.listdir(m["tables_dir"])) == ["documents.parquet", "embeddings.parquet", "events.parquet"]
    assert len(m["backlog"]) == 16 and all(os.path.isfile(f["path"]) for f in m["backlog"])
    assert m["readings_per_message"] == 9 and m["days"] == ["2025-09-25", "2025-09-26"]


def test_inactive_tracer_records_nothing_and_wrap_restores():
    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    t = spans.Tracer()
    with t.wrap(Mod, "f", "mod.f"):
        assert Mod.f(1) == 2
        t.active = True
        assert Mod.f(2) == 3
    assert Mod.f.__name__ == "f" and not hasattr(Mod.f, "__wrapped__")
    assert [(s.name, s.result) for s in t.spans] == [("mod.f", 3)]
