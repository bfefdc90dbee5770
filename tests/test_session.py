"""Every entry point builds its Spark session through
``readembedability_spark.session``."""

from __future__ import annotations

from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

#: split so this file does not match itself
_BUILDER = "SparkSession" + ".builder"

#: the shared builder and the frozen headline bench; perfbench/ (the
#: benchmark's own isolated session) is skipped by _sources
_OWN_BUILDERS = {
    REPO / "readembedability_spark" / "session.py",
    REPO / "bench.py",
}


def _sources():
    for p in sorted(REPO.rglob("*.py")):
        rel = p.relative_to(REPO).parts
        if rel[0] == "perfbench" or any(s.startswith(".") for s in rel):
            continue
        yield p


def test_one_session_builder():
    own = [
        str(p.relative_to(REPO))
        for p in _sources()
        if p not in _OWN_BUILDERS
        and _BUILDER in p.read_text(encoding="utf-8")
    ]
    assert own == []
    jobs = sorted((REPO / "jobs").glob("*.py"))
    assert jobs
    for job in jobs:
        assert (
            "from readembedability_spark.session import get_session"
            in job.read_text(encoding="utf-8")
        ), job.name
