from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))
if str(REPO / "tests") not in sys.path:
    sys.path.insert(0, str(REPO / "tests"))

FIXTURES = REPO / "tests" / "fixtures"
EXPECTED = REPO / "tests" / "expected"


@pytest.fixture(scope="session")
def spark():
    """Shared local SparkSession (created once per test session)."""
    from readembedability_spark.session import get_session

    spark = get_session(
        "readembedability-spark-tests",
        "local[4]",
        {"spark.ui.enabled": "false", "spark.driver.memory": "4g"},
    )
    yield spark
    spark.stop()
