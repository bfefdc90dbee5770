"""Tier-2: Spark path ≡ pure-Python oracle, byte-for-byte (SURVEY.md §5.2).

Builds a pages DataFrame from the committed fixture files, runs the
mapInPandas extract stage, and asserts content_text equality (and field
equality elsewhere) against extract_page run driver-side.
"""

from __future__ import annotations

from datetime import datetime
from pathlib import Path

import pytest

from fixture_manifest import FIXTURE_URLS

from readembedability_spark.extractor import extract_page
from readembedability_spark.operators.extract import extract_stage
from readembedability_spark.schemas import PAGES_SCHEMA

FIXTURES = Path(__file__).parent / "fixtures"
TS = datetime(2025, 1, 1, 0, 0, 0)


@pytest.fixture(scope="module")
def fixture_pages(spark):
    rows = []
    for name, url in sorted(FIXTURE_URLS.items()):
        blob = (FIXTURES / name).read_bytes()
        rows.append((url, TS, bytearray(blob), None, "en"))
    return spark.createDataFrame(rows, schema=PAGES_SCHEMA)


def test_spark_equals_oracle_bytewise(spark, fixture_pages):
    extracted = {
        r["url"]: r.asDict() for r in extract_stage(fixture_pages).collect()
    }
    assert len(extracted) == len(FIXTURE_URLS)
    for name, url in sorted(FIXTURE_URLS.items()):
        blob = (FIXTURES / name).read_bytes()
        oracle = extract_page(url, blob)
        got = extracted[url]
        # byte-identity surface
        a = (got["content_text"] or "").encode("utf-8")
        b = (oracle["content_text"] or "").encode("utf-8")
        assert a == b, f"content_text bytes diverge for {name}"
        # full field parity
        for field in (
            "content_html", "title", "authors", "image", "keywords",
            "summary", "canonical_url", "embed", "status",
        ):
            assert got[field] == oracle[field], f"{field} diverges for {name}"
        assert got["published_at"] == oracle["published_at"], name
        assert got["confidences"] == oracle["confidences"], name


def test_extract_stage_schema(spark, fixture_pages):
    from readembedability_spark.schemas import EXTRACTED_SCHEMA

    out = extract_stage(fixture_pages)
    assert out.schema == EXTRACTED_SCHEMA


def test_determinism_two_runs_identical(spark, fixture_pages):
    df1 = extract_stage(fixture_pages).orderBy("url").collect()
    df2 = extract_stage(fixture_pages).orderBy("url").collect()
    assert df1 == df2


def test_byte_identity_at_corpus_scale(spark, tmp_path):
    """Spark path ≡ oracle over 3000 varied synthetic pages (beyond the
    25 fixtures): per-url content_text must hash identically."""
    import hashlib

    from readembedability_spark.sources.pages import read_pages
    from readembedability_spark.sources.synth import generate_pages

    path = generate_pages(tmp_path / "pages.parquet", 3000)
    pages = read_pages(spark, str(path)).dropDuplicates(["url"])
    got = {
        r["url"]: hashlib.sha256(
            (r["content_text"] or "").encode("utf-8")
        ).hexdigest()
        for r in extract_stage(pages.repartition(16, "url"))
        .select("url", "content_text")
        .collect()
    }
    # oracle: plain python loop over the same rows, driver-side
    rows = pages.select("url", "html").collect()
    assert len(got) == len(rows)
    mismatch = 0
    for r in rows:
        oracle = extract_page(r["url"], bytes(r["html"]) if r["html"] is not None else None)
        h = hashlib.sha256(
            (oracle["content_text"] or "").encode("utf-8")
        ).hexdigest()
        if got[r["url"]] != h:
            mismatch += 1
    assert mismatch == 0


def test_extract_batches_yield_bounded_chunks(tmp_path):
    """One input batch worth several chunks of html comes back as several
    output frames (a worker holds one chunk, not the whole partition);
    together they equal extract_page row by row, and the partition still
    writes one metrics record over all of its rows."""
    import gc
    import json

    import pandas as pd
    import pyarrow.parquet as pq

    from readembedability_spark.operators.extract import (
        _OUT_COLS,
        CHUNK_BYTES,
        make_extract_batches,
    )
    from readembedability_spark.sources.synth import generate_pages

    pdf = pq.read_table(generate_pages(tmp_path / "pages.parquet", 600)).to_pandas()
    pdf["salt"] = range(len(pdf))
    pdf = pdf[["url", "warc_ts", "html", "salt"]]
    bytes_in = sum(len(h) for h in pdf["html"] if h is not None)
    assert bytes_in > 3 * CHUNK_BYTES

    metrics_dir = tmp_path / "metrics"
    extract = make_extract_batches("chunks", str(metrics_dir))
    try:
        frames = list(extract(iter([pdf])))
    finally:
        gc.unfreeze()  # the worker function freezes the heap it runs in
    assert len(frames) > 3
    assert all(list(f.columns) == _OUT_COLS for f in frames)

    got = [r for f in frames for r in f.to_dict("records")]
    assert len(got) == len(pdf)
    for g, (url, ts, html, salt) in zip(got, pdf.itertuples(index=False)):
        want = extract_page(url, html)
        want["warc_ts"] = ts
        want["salt"] = salt
        for c in _OUT_COLS:
            # pandas turns a missing timestamp into NaT
            assert g[c] == want[c] or (want[c] is None and g[c] is pd.NaT), (url, c)

    (record_file,) = metrics_dir.glob("part-*.json")
    record = json.loads(record_file.read_text(encoding="utf-8"))
    assert record["n_rows"] == len(pdf)
    assert record["bytes_in"] == bytes_in
