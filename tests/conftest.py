import os
import re
import sys

import pytest
from hypothesis import settings

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# deterministic property tests: the driver's gate must not flake on a fresh
# random example that local runs never saw
settings.register_profile("ci", derandomize=True)
settings.load_profile("ci")

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    from maplibre_tile_spec_spark.session import get_spark

    s = get_spark(master="local[4]", shuffle_partitions=4, app_name="mlt-spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "sf0.001")
    return os.path.join(TESTDATA, sf)


_REFERENCE_SKIP = re.compile(r"reference|fixture", re.IGNORECASE)


def pytest_terminal_summary(terminalreporter):
    """One line saying how many skips were reference-tree/fixture checks,
    so a run shows how much went unchecked where those inputs are absent."""
    skipped = terminalreporter.stats.get("skipped", [])
    reasons = [r.longrepr[2] for r in skipped if isinstance(r.longrepr, tuple)]
    n_ref = sum(1 for reason in reasons if _REFERENCE_SKIP.search(reason))
    terminalreporter.write_line(
        f"{n_ref} of {len(skipped)} skipped tests need the reference tree or "
        "fixtures (not checked in this run)"
    )
