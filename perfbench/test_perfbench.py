"""Self-test of the benchmark's tracing: event-log parsing, job and stage
attribution, and extractor self times, on a tiny seeded corpus.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import eventlog, session  # noqa: E402
from perfbench.spans import EXTRACTOR_FUNCS, ExtractorTracer, LayerTagger  # noqa: E402


@pytest.fixture(scope="module")
def tiny_corpus(tmp_path_factory):
    from perfbench import corpus

    return corpus.load(corpus.synth(tmp_path_factory.mktemp("cache"), 300, seed=5))


def test_event_log_layers(tiny_corpus, tmp_path):
    from readembedability_spark.plans.pipeline import RunConfig, run_extract

    events = tmp_path / "events"
    spark = session.start(tmp_path, events)
    try:
        tagger = LayerTagger(spark)
        with tagger.installed(), tagger.phase("timed:0"):
            res = run_extract(
                spark,
                RunConfig(
                    pages_path=str(tiny_corpus.path),
                    out_dir=str(tmp_path / "out"),
                    run_id="t",
                ),
            )
        # undone on exit: later jobs carry no tags
        spark.range(3).count()
    finally:
        session.stop(spark)
    assert res["rows_processed"] == len(tiny_corpus.accepted)

    log = eventlog.parse(eventlog.find_log(events))
    timed = log.phase("timed:0")
    assert {j.layer for j in timed} == {
        "operators.extract",
        "operators.resume.pending",
        "operators.resume.checkpoint",
        "plans.pipeline.tail",
    }
    assert all(j.phase is None for j in log.jobs if j not in timed)
    m = eventlog.phase_metrics(log, "timed:0", session.cores())
    assert m["sources.pages.rows_scanned"] == tiny_corpus.rows
    assert m["operators.dedup.kept_share"] == pytest.approx(
        len(tiny_corpus.accepted)
        / sum(1 for _ in _nonnull_rows(tiny_corpus))
    )
    assert m["operators.extract.python_bytes_sent"] > 0
    assert m["operators.extract.python_bytes_returned"] > 0
    assert m["operators.salt.shuffle_write_bytes"] > 0
    assert m["plans.pipeline.output_bytes"] > 0
    assert m["operators.extract.straggler_ratio"] >= 1
    assert 0 <= m["operators.extract.idle_share"] < 1
    assert m["operators.resume.pending_s"] > 0
    assert m["operators.resume.checkpoint_s"] > 0
    assert m["plans.pipeline.jobs"] == len(timed)


def _nonnull_rows(corp):
    import pyarrow.parquet as pq

    html = pq.read_table(corp.path, columns=["html"]).column("html").to_pylist()
    return [h for h in html if h is not None]


def test_extractor_self_times_account_for_wall(tiny_corpus):
    import time

    from readembedability_spark.extractor import extract_page, pipeline

    originals = {f: getattr(pipeline, f) for f in EXTRACTOR_FUNCS if f != "decode_html"}
    items = [(u, corp_html) for u, (_, corp_html) in list(tiny_corpus.accepted.items())[:50]]
    plain = [extract_page(u, h) for u, h in items]
    tracer = ExtractorTracer()
    with tracer.installed():
        t0 = time.perf_counter()
        traced = [extract_page(u, h) for u, h in items]
        wall = time.perf_counter() - t0
    assert traced == plain
    assert all(getattr(pipeline, f) is fn for f, fn in originals.items())
    assert all(s >= 0 for s in tracer.self_s.values())
    assert tracer.self_s["parse_html"] > 0 and tracer.self_s["decode_html"] > 0
    assert 0 < sum(tracer.self_s.values()) <= wall


def test_benchmark_json_lists_every_metric():
    from perfbench import run

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)


def test_core_speed_samples_and_stops():
    import time

    with session.CoreSpeed() as speed:
        t0 = time.monotonic()
        time.sleep(0.6)
        t1 = time.monotonic()
    assert speed._proc.returncode is not None
    assert len(speed.samples) >= 3
    assert all(rate > 0 for _, rate in speed.samples)
    assert speed.median(t0, t1) > 0
    # a window with no sample falls back to every sample
    assert speed.median(0.0, 0.0) == speed.median(0.0, float("inf"))


def test_job_cpu_s_counts_this_process():
    before = session.job_cpu_s()
    session._spin(300_000)
    assert session.job_cpu_s() > before
