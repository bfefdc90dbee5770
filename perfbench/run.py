"""Benchmark of the readembedability-spark extraction job.

    python3 perfbench/run.py --workload crawl_small --seed 1 --seconds 10 --trace 0

One run = one workload, one seed, one fresh bench-owned ``local[nproc]``
SparkSession. The run makes its inputs from the seed (cached per seed
under ``.perfbench/cache``), sets up (session start, package shipping
and two untimed warm-up calls over the same input), then calls
``plans.pipeline.run_extract`` with ``RunConfig`` defaults (apart from
paths and run id) again and again for ``--seconds``, and checks the
output against in-process ``extract_page``. A traced run then calls
``run_extract`` once more on the same output, which must process
nothing.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
Spark event log and the spans in ``spans.py`` and reports the per-layer
metrics instead. The last stdout line is the result object; the line
before it is the run's record (input sizes, host probes, every
iteration). See ``perfbench/README.md`` for workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import check, corpus, eventlog, session  # noqa: E402
from perfbench.spans import EXTRACTOR_FUNCS, ExtractorTracer, LayerTagger  # noqa: E402

RUN_ID = "bench"
#: workload → (input maker, size of the url sample for the byte-for-byte
#: check and the in-process chain)
WORKLOADS = {
    "crawl_small": (corpus.small, 300),
    "crawl_large": (corpus.large, 48),
}
#: untimed calls over the workload's input before timing; the first
#: call after a single one still costs ~20% more CPU (JIT, JVM heap)
WARMUP_CALLS = 2
#: in-process passes over the sample in a traced run (medians reported)
EXTRACTOR_PASSES = 3
#: the core speed (``session.CoreSpeed``, M steps per CPU-second) that
#: ``pages_per_cpu_s`` is scaled to
REF_CORE_SPEED = 10.0

END_TO_END = {
    "pages_per_cpu_s": "pages/cpu-s",
    "setup_s": "s",
    "worker_peak_rss_mb": "MB",
}


PER_LAYER = {
    "extractor.pages_per_s": "pages/s",
    **{f"extractor.{f}.us_per_page": "us" for f in EXTRACTOR_FUNCS},
    "extractor.other.us_per_page": "us",
    **{f"extractor.status.{s}": "count" for s in check.STATUSES},
    "extractor.trace_overhead": "ratio",
    "spark.wall_pages_per_s": "pages/s",
    "spark.core_efficiency": "ratio",
    "sources.pages.bytes_read": "bytes",
    "sources.pages.rows_scanned": "count",
    "sources.pages.task_s": "s",
    "operators.salt.shuffle_write_bytes": "bytes",
    "operators.dedup.kept_share": "ratio",
    "operators.extract.task_s": "s",
    "operators.extract.stage_s": "s",
    "operators.extract.python_run_s": "s",
    "operators.extract.python_start_s": "s",
    "operators.extract.python_init_s": "s",
    "operators.extract.python_bytes_sent": "bytes",
    "operators.extract.python_bytes_returned": "bytes",
    "operators.extract.spill_bytes": "bytes",
    "operators.extract.straggler_ratio": "ratio",
    "operators.extract.idle_share": "ratio",
    "operators.extract.partition_skew": "ratio",
    "plans.pipeline.overhead_s": "s",
    "plans.pipeline.jobs": "count",
    "plans.pipeline.output_bytes": "bytes",
    "operators.resume.pending_s": "s",
    "operators.resume.checkpoint_s": "s",
    "operators.resume.rerun_s": "s",
    "operators.resume.useful_scan_share": "ratio",
    "failed_share": "ratio",
    "host.probe_before": "Mops/s",
    "host.probe_after": "Mops/s",
    "host.core_speed": "Msteps/cpu-s",
}


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: Path, cache: Path):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.cache = cache
        self.excluded_s = 0.0  # host probe and input making: not set-up
        self.problems: list[str] = []
        self.layer: dict[str, float] = {}
        self.setup_wall_s = 0.0
        self.setup_s = 0.0  # scaled to REF_CORE_SPEED
        self.setup_window = (0.0, 0.0)  # monotonic times
        self.setup_speed = 0.0
        self.rows_expected = 0  # pages each timed call must process
        self.iterations = 0
        self.calls: list[dict] = []  # one per timed call
        self.out_dir: Path | None = None  # output of the last timed call

    @contextlib.contextmanager
    def _excluded(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.excluded_s += time.perf_counter() - t0

    def execute(self) -> tuple[dict, dict]:
        with self._excluded():
            probe_before = session.cpu_probe()
            corp = WORKLOADS[self.workload][0](self.cache, self.seed)
        session.isolate(self.work)
        events = self.work / "events" if self.trace else None
        with session.CoreSpeed() as speed:
            self.setup_window = (time.monotonic(), 0.0)
            spark = session.start(self.work, events)
            try:
                tagger = LayerTagger(spark) if self.trace else None
                with (tagger.installed() if tagger else contextlib.nullcontext()):
                    with session.WorkerPeakRss() as rss:
                        self._spark_phases(spark, corp, tagger)
            finally:
                session.stop(spark)
        # times scaled to the reference core speed, by the core speed
        # sampled while they ran: the host's speed drifts between runs
        self.setup_speed = speed.median(*self.setup_window)
        self.setup_s = self.setup_wall_s * self.setup_speed / REF_CORE_SPEED
        for c in self.calls:
            c["core_speed"] = speed.median(*c.pop("t"))
            c["pages_per_s"] = c["pages"] / c["wall_s"]
            c["pages_per_cpu_s"] = c["pages"] / c["cpu_s"] * REF_CORE_SPEED / c["core_speed"]

        expected = self._extractor_passes(corp)
        checked = check.verify(corp, str(self.out_dir / "extracted"), expected)
        self.problems += checked["problems"]
        attempted = len(corp.accepted)
        failed = checked["status"]["parse_error"] + checked["missing"]
        wall_pages_per_s = statistics.median(c["pages_per_s"] for c in self.calls)
        probe_after = session.cpu_probe()

        if self.trace:
            self._event_log_metrics(events, session.cores())
            self.layer["spark.wall_pages_per_s"] = wall_pages_per_s
            self.layer["host.core_speed"] = statistics.median(c["core_speed"] for c in self.calls)
            self.layer["spark.core_efficiency"] = wall_pages_per_s / (
                session.cores() * self.layer["extractor.pages_per_s"]
            )
            for s, n in checked["status"].items():
                self.layer[f"extractor.status.{s}"] = n
            self.layer["failed_share"] = failed / attempted
            self.layer["host.probe_before"] = probe_before
            self.layer["host.probe_after"] = probe_after
            values = self.layer
            units = PER_LAYER
        else:
            values = {
                "pages_per_cpu_s": statistics.median(c["pages_per_cpu_s"] for c in self.calls),
                "setup_s": self.setup_s,
                "worker_peak_rss_mb": rss.peak_mb,
            }
            units = END_TO_END
        missing = set(units) - set(values)
        if missing:
            self.problems.append(f"metrics not measured: {sorted(missing)}")
        result = {
            "correct": not self.problems,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                k: {"value": values[k], "unit": u} for k, u in units.items() if k in values
            },
        }
        record = {
            "perfbench": self.workload,
            "seed": self.seed,
            "trace": int(self.trace),
            "cores": session.cores(),
            "session": session.SETTINGS,
            "input": corp.describe(),
            "host_probe_mops": {"before": probe_before, "after": probe_after},
            "setup_wall_s": self.setup_wall_s,
            "setup_core_speed": self.setup_speed,
            "setup_s": self.setup_s,
            "calls": self.calls,
            "rows_per_iteration": self.rows_expected,
            "status": checked["status"],
            "problems": self.problems[:20],
        }
        return result, record

    # -- Spark side ---------------------------------------------------

    def _run(self, spark, tagger, phase, pages_path, out_dir) -> tuple[dict, float]:
        """One ``run_extract`` call with ``RunConfig`` defaults apart from
        paths and run id; returns its summary and wall time."""
        from readembedability_spark.plans.pipeline import RunConfig, run_extract

        cfg = RunConfig(pages_path=str(pages_path), out_dir=str(out_dir), run_id=RUN_ID)
        with tagger.phase(phase) if tagger else contextlib.nullcontext():
            t0 = time.perf_counter()
            res = run_extract(spark, cfg)
            return res, time.perf_counter() - t0

    def _spark_phases(self, spark, corp, tagger):
        runs = self.work / "runs"
        # untimed calls over the same input let worker start-up and JIT
        # compilation finish before timing
        for i in range(WARMUP_CALLS):
            self._run(spark, tagger, "warmup", corp.path, runs / "warmup")
            shutil.rmtree(runs / "warmup")
        self.rows_expected = len(corp.accepted)
        self.setup_wall_s = time.perf_counter() - T_START - self.excluded_s
        self.setup_window = (self.setup_window[0], time.monotonic())
        t_end = time.perf_counter() + self.seconds
        i = 0
        while True:
            out = runs / str(i)
            t0, cpu0 = time.monotonic(), session.job_cpu_s()
            res, wall = self._run(spark, tagger, f"timed:{i}", corp.path, out)
            t1, cpu1 = time.monotonic(), session.job_cpu_s()
            n = res["rows_processed"]
            if n != self.rows_expected:
                self.problems.append(f"iteration {i} processed {n} rows, expected {self.rows_expected}")
            # CPU seconds of this process, the JVM and the Python workers
            self.calls.append({"pages": n, "wall_s": wall, "cpu_s": cpu1 - cpu0, "t": (t0, t1)})
            self.iterations = i + 1
            self.out_dir = out
            if time.perf_counter() >= t_end:
                break
            shutil.rmtree(out)
            i += 1
        if not self.trace:
            return
        # before the rerun, which rewrites the per-partition metrics
        self.layer["operators.extract.partition_skew"] = self._partition_skew(spark)
        # resume is idempotent: a second call on the same output and run
        # id must process nothing and add nothing
        before = res["rows_out"]
        res, self.layer["operators.resume.rerun_s"] = self._run(
            spark, tagger, "rerun", corp.path, self.out_dir
        )
        if res["rows_processed"] != 0 or res["rows_out"] != before:
            self.problems.append(
                f"rerun processed {res['rows_processed']} rows, "
                f"output {before} -> {res['rows_out']} rows"
            )

    def _partition_skew(self, spark) -> float:
        """max ÷ median per-partition ``wall_ms`` of the last timed call,
        read back through the program's ``load_metrics``."""
        from readembedability_spark.operators.extract import load_metrics

        metrics_dir = self.out_dir / "_metrics" / RUN_ID
        walls = sorted(r["wall_ms"] for r in load_metrics(spark, str(metrics_dir)).collect())
        med = statistics.median(walls) if walls else 0
        return walls[-1] / med if med else 0.0

    def _event_log_metrics(self, events: Path, cores: int) -> None:
        log = eventlog.parse(eventlog.find_log(events))
        per_iter = [
            eventlog.phase_metrics(log, f"timed:{i}", cores) for i in range(self.iterations)
        ]
        for key in per_iter[0]:
            self.layer[key] = statistics.median(m[key] for m in per_iter)
        self.layer["operators.resume.useful_scan_share"] = (
            self.rows_expected / self.layer["sources.pages.rows_scanned"]
        )

    # -- in-process extractor ------------------------------------------

    def _extractor_passes(self, corp) -> dict:
        """In-process ``extract_page`` over the url sample: the expected
        rows for the byte-for-byte check and, in a traced run, the
        single-core chain rate and per-function self times."""
        items = [(u, *corp.accepted[u]) for u in corp.sample(WORKLOADS[self.workload][1])]

        def one_pass():
            t0 = time.perf_counter()
            rows = {u: check.expected_row(u, ts, html) for u, ts, html in items}
            return rows, time.perf_counter() - t0

        expected, _ = one_pass()  # also imports the extractor modules
        if not self.trace:
            return expected
        plain, traced = [], []
        for _ in range(EXTRACTOR_PASSES):
            plain.append(one_pass()[1])
            tracer = ExtractorTracer()
            with tracer.installed():
                rows, wall = one_pass()
            if rows != expected:
                self.problems.append("traced extractor output differs from untraced")
            traced.append((wall, tracer.self_s))
        n = len(items)
        untraced_s = statistics.median(plain)
        # self times of the median traced pass; `other` is the rest of
        # that pass's wall, so together they account for all of it
        traced_s, self_s = sorted(traced, key=lambda t: t[0])[len(traced) // 2]
        self.layer["extractor.pages_per_s"] = n / untraced_s
        self.layer["extractor.trace_overhead"] = traced_s / untraced_s - 1
        for f in EXTRACTOR_FUNCS:
            self.layer[f"extractor.{f}.us_per_page"] = self_s[f] / n * 1e6
        self.layer["extractor.other.us_per_page"] = (
            (traced_s - sum(self_s.values())) / n * 1e6
        )
        return expected


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "readembedability_spark" / "plans" / "pipeline.py").is_file():
        print(f"perfbench: no readembedability_spark package in {ROOT}", file=sys.stderr)
        return 2
    bench = ROOT / ".perfbench"
    work = bench / f"run-{os.getpid()}"
    cache = bench / "cache"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cache.mkdir(parents=True, exist_ok=True)
    try:
        run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work, cache)
        result, record = run.execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in record["problems"]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps(record))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
