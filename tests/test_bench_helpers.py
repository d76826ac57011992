"""Unit tests for bench.py's baseline gate — no Spark.

BENCH_LOCAL.json (BENCH_FULL_LOCAL.json for --all) is the only
baseline. The r8 judge found a sf0.1 run ratio'd against a sf0.001
archive, which manufactured 21 phantom regressions; a baseline from a
different core count is the same defect. Both are structural now: a
baseline is refused, with a stated reason, unless its sf and cpus both
match this run's.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench  # noqa: E402


def _write(tmp_path, name, doc):
    (tmp_path / name).write_text(json.dumps(doc))


def test_vs_prev_skips_sf_mismatched_baseline(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    _write(tmp_path, "BENCH_LOCAL.json",
           {"queries_norm": {"q1": 1.0, "q2": 1.0}, "sf": 0.001, "cpus": 4})
    prev, reason = bench._baseline("BENCH_LOCAL.json", 0.1, 4)
    assert prev is None
    assert "sf 0.001" in reason and "sf 0.1" in reason


def test_vs_prev_uses_sf_matched_driver_record(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    _write(tmp_path, "BENCH_LOCAL.json",
           {"queries_norm": {"q1": 1.0, "q2": 1.0}, "sf": 0.1, "cpus": 4})
    prev, reason = bench._baseline("BENCH_LOCAL.json", 0.1, 4)
    assert reason is None
    out = bench._ratio_table({"q1": 1.0, "q2": 2.0}, prev["queries_norm"],
                             "BENCH_LOCAL.json")
    assert out["baseline"] == "BENCH_LOCAL.json"
    assert out["norm_ratio"] == {"q1": 1.0, "q2": 2.0}


def test_vs_prev_prefers_sf_matched_local_over_tail(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    # a round-numbered driver record is never read, whatever it holds
    _write(tmp_path, "BENCH_r08.json",
           {"queries_norm": {"q1": 9.0}, "sf": 0.1, "cpus": 4})
    _write(tmp_path, "BENCH_LOCAL.json",
           {"queries_norm": {"q1": 1.0}, "sf": 0.1, "cpus": 4})
    prev, _ = bench._baseline("BENCH_LOCAL.json", 0.1, 4)
    assert prev["queries_norm"] == {"q1": 1.0}


def test_vs_prev_refuses_cpus_mismatched_or_unrecorded_baseline(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    _write(tmp_path, "BENCH_LOCAL.json",
           {"queries_norm": {"q1": 1.0}, "sf": 0.1, "cpus": 8})
    prev, reason = bench._baseline("BENCH_LOCAL.json", 0.1, 32)
    assert prev is None and "8 cpus" in reason and "32" in reason
    # an archive from before cpus was recorded is refused too
    _write(tmp_path, "BENCH_LOCAL.json", {"queries_norm": {"q1": 1.0}, "sf": 0.1})
    prev, reason = bench._baseline("BENCH_LOCAL.json", 0.1, 32)
    assert prev is None and "no cpus" in reason
    # and a missing or malformed archive is a reason, never an exception
    prev, reason = bench._baseline("BENCH_FULL_LOCAL.json", 0.1, 32)
    assert prev is None and "no BENCH_FULL_LOCAL.json" in reason
    (tmp_path / "BENCH_LOCAL.json").write_text("{truncated")
    prev, reason = bench._baseline("BENCH_LOCAL.json", 0.1, 32)
    assert prev is None and "unreadable" in reason
    (tmp_path / "BENCH_LOCAL.json").write_text("[]")
    prev, reason = bench._baseline("BENCH_LOCAL.json", 0.1, 32)
    assert prev is None and "not a JSON object" in reason


def test_degenerate_sf001_keys_are_registered_and_not_headline():
    """The three exact-all-pairs oracle configs demoted to sf0.01 timing
    (VERDICT r11 #4) must stay REGISTERED queries (the oracle gate still
    runs them) and must never sit in HEADLINE — their production twins
    carry the sf0.1 drift signal."""
    from metrocloud_data_pipeline_spark.queries import QUERY_ORDER

    for name in bench.DEGENERATE_SF001:
        assert name in QUERY_ORDER, name
        assert name not in bench.HEADLINE, name


def test_sf001_dir_derivation():
    assert bench._sf001_dir().endswith("/sf0.01")
