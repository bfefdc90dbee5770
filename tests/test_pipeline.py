"""Tier-4 pipeline properties: dedup, salting, resume, determinism
(SURVEY.md §5.2 tier 4)."""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from readembedability_spark.operators.dedup import dedup_latest
from readembedability_spark.operators.resume import (
    load_done_buckets,
    resume_filter,
    with_bucket,
)
from readembedability_spark.operators.salt import salt_repartition
from readembedability_spark.plans.pipeline import (
    RunConfig,
    build_extract_df,
    run_extract,
)
from readembedability_spark.sources.pages import prefilter, read_pages
from readembedability_spark.sources.synth import generate_pages


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    path = generate_pages(d / "pages.parquet", 400)
    return str(path)


def test_synth_is_deterministic(tmp_path):
    p1 = generate_pages(tmp_path / "a.parquet", 50)
    p2 = generate_pages(tmp_path / "b.parquet", 50)
    import pyarrow.parquet as pq

    t1, t2 = pq.read_table(p1), pq.read_table(p2)
    assert t1.equals(t2)


def test_dedup_latest_one_row_per_url(spark, corpus):
    pages = read_pages(spark, corpus)
    assert pages.count() > pages.select("url").distinct().count()  # dups exist
    deduped = dedup_latest(pages)
    assert deduped.count() == pages.select("url").distinct().count()
    # max warc_ts won
    mx = pages.groupBy("url").agg(F.max("warc_ts").alias("mx"))
    joined = deduped.join(mx, "url")
    assert joined.filter(F.col("warc_ts") != F.col("mx")).count() == 0


def test_salting_spreads_hot_host(spark):
    # pathological input: 2000 urls all on ONE host
    rows = [
        (f"https://hot.example.com/a/{i}", "2025-01-01T00:00:00", i)
        for i in range(2000)
    ]
    df = spark.createDataFrame(rows, "url string, ts string, i long").select(
        "url", F.to_timestamp("ts").alias("warc_ts"), F.lit(None).cast("binary").alias("html"),
        F.lit(None).cast("string").alias("text"), F.lit("en").alias("lang"),
    )
    p = 8
    salted = salt_repartition(df, p)
    sizes = (
        salted.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    )
    counts = [r["count"] for r in sizes]
    assert len(counts) == p
    mean = sum(counts) / len(counts)
    assert max(counts) <= 2 * mean  # no partition > 2x mean (FIXTURES tier-4)


def test_resume_no_recompute(spark, corpus):
    out = tempfile.mkdtemp()
    try:
        cfg = RunConfig(pages_path=corpus, out_dir=out, run_id="rt", parallelism=4)
        r1 = run_extract(spark, cfg)
        n1 = r1["rows_out"]
        assert n1 > 0
        # all buckets now checkpointed → second run appends nothing
        r2 = run_extract(spark, cfg)
        assert r2["rows_out"] == n1
        assert r2["rows_processed"] == 0
        # metrics from run2 show zero rows processed
        pending = resume_filter(
            with_bucket(prefilter(read_pages(spark, corpus))),
            load_done_buckets(spark, str(Path(out) / "_checkpoint"), "rt"),
        )
        assert pending.count() == 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_partial_run_then_resume_completes(spark, corpus):
    """Kill-after-k-buckets simulation: process a subset of buckets, then
    resume the full input; union must equal a fresh full run's rows."""
    out = tempfile.mkdtemp()
    try:
        pages = with_bucket(prefilter(read_pages(spark, corpus)))
        # simulate a partial run: only buckets < 128 get processed+marked
        cfg = RunConfig(pages_path=corpus, out_dir=out, run_id="pp", parallelism=4)
        from readembedability_spark.operators.dedup import dedup_latest as dd
        from readembedability_spark.operators.extract import extract_stage
        from readembedability_spark.operators.resume import mark_buckets_done

        part = dd(pages.filter(F.col("url_bucket") < 128))
        extracted_part = extract_stage(salt_repartition(part, 4))
        out_path = str(Path(out) / "extracted")
        extracted_part.write.mode("append").parquet(out_path)
        mark_buckets_done(
            spark.read.parquet(out_path), str(Path(out) / "_checkpoint"), "pp"
        )
        n_partial = spark.read.parquet(out_path).count()
        assert n_partial > 0

        # resume the full run
        r = run_extract(spark, cfg)
        total = r["rows_out"]
        full = dd(pages).count()
        assert total == full
        # no url extracted twice
        dup = (
            spark.read.parquet(out_path)
            .groupBy("url").count().filter(F.col("count") > 1).count()
        )
        assert dup == 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_checkpoint_marking_independent_of_output(spark, corpus):
    """VERDICT r01 #6: the incremental checkpoint mark derives from this
    run's pending-bucket set (known pre-write from a url-only input
    scan), never from re-scanning the accumulated output — O(1) cost per
    run regardless of how much prior runs wrote, and no cross-run_id
    contamination."""
    import readembedability_spark.plans.pipeline as pl

    out = tempfile.mkdtemp()
    try:
        # the pending-bucket plan reads ONLY the url column of the input
        cfg = RunConfig(pages_path=corpus, out_dir=out, run_id="ia", parallelism=4)
        pages = with_bucket(read_pages(spark, corpus).select("url"))
        done = load_done_buckets(spark, str(Path(out) / "_checkpoint"), "ia")
        pend_df = resume_filter(pages, done).select("url_bucket").distinct()
        plan = pend_df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            pend_df._jdf.queryExecution(), "formatted"
        )
        read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert read_schema and "url" in read_schema[0]
        assert "html" not in read_schema[0]  # heavy column never touched

        # run 1 under run_id "ia" writes output; run 2 under "ib" must
        # derive its marks from ITS input-pending set, and the marking
        # path must not scan the accumulated 'extracted' table
        run_extract(spark, cfg)
        reads: list[str] = []
        orig_parquet = type(spark.read).parquet

        def spy(reader, *paths):
            reads.extend(paths)
            return orig_parquet(reader, *paths)

        type(spark.read).parquet = spy
        try:
            cfg2 = RunConfig(
                pages_path=corpus, out_dir=out, run_id="ib", parallelism=4
            )
            pend2 = pl._pending_buckets(spark, cfg2)
        finally:
            type(spark.read).parquet = orig_parquet
        out_path = str(Path(out) / "extracted")
        assert all(out_path not in p for p in reads), reads
        # and the pending set matches the input's full bucket set
        expect = {
            r["url_bucket"]
            for r in with_bucket(read_pages(spark, corpus).select("url"))
            .select("url_bucket").distinct().collect()
        }
        assert set(pend2) == expect
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_adaptive_default_plan_shuffles_once(spark, corpus, tmp_path):
    """With RunConfig defaults the url exchange is sized by AQE, and the
    plan keeps its shape: the html crosses one exchange, and there is one
    dedup window and one Python boundary. (The resume anti-join's
    done-bucket side has its own tiny exchange, as with a fixed count.)"""
    import re

    cfg = RunConfig(pages_path=corpus, out_dir=str(tmp_path), run_id="ap")
    assert cfg.parallelism is None
    df = build_extract_df(spark, cfg)
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    nodes = plan.split("\n\n")
    exchanges = [n for n in nodes if re.match(r"\(\d+\) Exchange", n)]
    (heavy,) = [n for n in exchanges if "html" in n]
    # by column, not by number: AQE may merge its partitions
    assert "hashpartitioning(url#" in heavy and "REPARTITION_BY_COL" in heavy
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1


@pytest.fixture(scope="module")
def adaptive_and_fixed(spark, corpus, tmp_path_factory):
    """The corpus extracted once with RunConfig defaults and once with
    a fixed parallelism of 4: name → (config, run_extract result)."""
    out = {}
    for name, extra in (("adaptive", {}), ("fixed", {"parallelism": 4})):
        d = str(tmp_path_factory.mktemp(name))
        cfg = RunConfig(pages_path=corpus, out_dir=d, run_id="af", **extra)
        out[name] = (cfg, run_extract(spark, cfg))
    return out


def test_adaptive_default_rows_match_fixed_parallelism(spark, adaptive_and_fixed):
    def rows(result):
        return {r["url"]: r for r in spark.read.parquet(result["out_path"]).collect()}

    (_, adaptive), (_, fixed) = adaptive_and_fixed["adaptive"], adaptive_and_fixed["fixed"]
    assert adaptive["rows_processed"] == fixed["rows_processed"] > 0
    assert rows(adaptive) == rows(fixed)
    # AQE merged the hash buckets: fewer tasks, so fewer output files,
    # than spark.sql.shuffle.partitions
    files = list(Path(adaptive["out_path"]).glob("part-*.parquet"))
    assert 0 < len(files) < int(spark.conf.get("spark.sql.shuffle.partitions"))


def test_adaptive_default_rerun_processes_nothing(spark, adaptive_and_fixed):
    cfg, first = adaptive_and_fixed["adaptive"]
    again = run_extract(spark, cfg)
    assert again["rows_processed"] == 0
    assert again["rows_out"] == first["rows_out"]


def test_metrics_count_only_this_call(spark, corpus, tmp_path):
    """Each call reads back only the metrics files its own tasks wrote:
    a call with fewer tasks than the one before must not count the
    files the earlier call left behind."""
    out = str(tmp_path)
    first = run_extract(
        spark, RunConfig(pages_path=corpus, out_dir=out, run_id="mh", parallelism=8)
    )
    assert first["rows_processed"] > 0
    again = run_extract(spark, RunConfig(pages_path=corpus, out_dir=out, run_id="mh"))
    assert again["rows_processed"] == 0
