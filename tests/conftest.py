from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_streams_example_spark.session import get_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = os.path.join(TESTDATA, "sf0.001")
SF_CORRECT = os.path.join(TESTDATA, os.environ.get("SPARK_GRAFT_PARITY_SF", "sf0.001"))

RUN_SLOW = os.environ.get("SPARK_GRAFT_SLOW") == "1"
_SLOW_SKIP = pytest.mark.skip(
    reason="slow tier (set SPARK_GRAFT_SLOW=1): exhaustive brute-force/"
    "property/x100 cases — excluded from the default run so the driver's "
    "bounded pytest window finishes (r11 VERDICT #1)"
)


def pytest_collection_modifyitems(config, items):
    """Gate the `slow` tier behind SPARK_GRAFT_SLOW=1. The driver's
    `pytest tests/` must finish inside its window; the slow tier stays
    collected (and visibly skipped) so nothing silently disappears, and
    the builder's pre-commit gate runs it via the env flag."""
    if RUN_SLOW:
        return
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(_SLOW_SKIP)


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """A default run names how many slow-tier tests it skipped and the
    command that runs them."""
    if RUN_SLOW:
        return
    n = sum(
        1
        for r in terminalreporter.stats.get("skipped", [])
        if "slow" in getattr(r, "keywords", {})
    )
    if n:
        terminalreporter.write_line(
            f"{n} slow-tier tests skipped; run them with: "
            "SPARK_GRAFT_SLOW=1 python -m pytest tests/"
        )


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    s = get_spark(
        app_name="kse-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": wh},
    )
    yield s
    s.stop()
