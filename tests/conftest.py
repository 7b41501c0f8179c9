from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from lucene_solr_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
SF01_DIR = "/root/testdata/sf0.01"

# The suite is thousands of small jobs on KB-MB inputs: per-task overhead,
# not parallelism, sets its wall time (local[4] and local[8] ran the same
# on a 4-CPU box). Threads beyond the box's cores only add contention and
# one pandas-UDF worker process (~120 MB) per thread per worker pool, so
# the session takes SPARK_GRAFT_CPUS threads, capped at 8.
CORES = min(int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8), 8)
# The engine's default heap (24 GB, or half the box's RAM when less) lets
# the one long-lived test JVM grow to 6+ GB resident before it collects;
# the suite's live data (sf0.01 at most) fits in a fraction of this cap.
DRIVER_HEAP = "4g"


@pytest.fixture(scope="session")
def spark():
    # Engine results are parallelism-invariant by contract
    # (test_invariance.py pins it).
    s = get_spark(
        app_name="tests",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={"spark.driver.memory": DRIVER_HEAP},
    )
    yield s
