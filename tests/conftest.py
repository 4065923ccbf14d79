from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session", autouse=True)
def _testdata_vintage_guard():
    """Abort the whole run with a pointed message if the testdata's events.ts
    physical type changed to something io.normalize_event_ts can't decode —
    a silent regeneration invalidated round 2; never again."""
    from monday_etl_spark.io import assert_known_events_vintage

    for sf in (SF_SMOKE, SF_ORACLE):
        assert_known_events_vintage(sf)


@pytest.fixture(scope="session")
def spark():
    from monday_etl_spark.session import get_spark

    # the status store keeps every job of the run: tests that compare job
    # ids before and after a call must not see older jobs evicted
    s = get_spark("monday-etl-spark-tests", shuffle_partitions=8,
                  extra_conf={"spark.ui.retainedJobs": "100000"})
    yield s
    s.stop()
