from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import SparkSession  # noqa: E402


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: heavy verification tier (iterative training loops, the "
        "crash-replay matrix, naive-reference cross-checks) — skipped "
        "by default so the suite fits the driver's verify window "
        "(VERDICT r15 #3); set SPARK_GRAFT_FULL_TESTS=1 to run it "
        "(the builder runs the full tier at least once per round).",
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1":
        return
    skip = pytest.mark.skip(
        reason="slow tier — set SPARK_GRAFT_FULL_TESTS=1 (run builder-side "
        "each round; default path sized for the driver verify window)"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """Close the run with what the default tier left out and how to run it."""
    skipped = terminalreporter.stats.get("skipped", [])
    n = sum("slow tier" in str(r.longrepr) for r in skipped)
    if n:
        terminalreporter.write_line(
            f"slow tier: {n} tests skipped; run them with "
            "SPARK_GRAFT_FULL_TESTS=1 python -m pytest tests/"
        )


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = (
        SparkSession.builder.master("local[4]")
        .appName("mds-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
