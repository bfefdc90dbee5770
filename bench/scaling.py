"""Two-parallelism scaling benchmark (BASELINE.md protocol).

Sandbox substitution for the N→4N executor criterion (BASELINE.json:2):
the same job — scan → salted url-hash repartition → dedup →
mapInPandas extract → write — over the same deterministic corpus at
local[N] and local[4N], median of R runs; efficiency =
tput_{4N} / (4 × tput_N). Writes BENCH/BASELINE.md.

Core-count choice: this box reports nproc=32 but has 16 physical
cores (SMT): measured pure-Python per-process throughput is flat from
4→16 workers and drops ~22% at 32. Local mode co-locates the JVM
(scan/shuffle/Arrow/parquet threads) WITH the Python workers, so for
the scaling signal to reflect adding executors — which brings fresh
physical cores per node on a real cluster — BOTH configs must fit in
the 16 physical cores including JVM-side threads: /proc/stat sampling
shows the extract phase occupying ~55-72%% of 32 logical CPUs at
local[16] (16 workers + JVM > 16 physical → SMT throttling), while
local[8] and below stay within physical cores. Hence N=2 vs 4N=8.

Each run uses a fresh SparkSession; a small warmup job spins up the JVM
and the Python worker pool before timing (steady-state throughput is
the metric, matching the pages/sec north star).

Usage: python bench/scaling.py [--pages 96000] [--runs 3]
"""

from __future__ import annotations

import argparse
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from readembedability_spark.sources.synth import ensure_corpus  # noqa: E402

CACHE = REPO / ".bench_cache"
N_SMALL = 2
N_BIG = 8
PARALLELISM = 128


def one_run(master_cores: int, pages_path: str, warmup_path: str) -> tuple[float, int]:
    from readembedability_spark.plans.pipeline import RunConfig, run_extract
    from readembedability_spark.session import get_session

    spark = get_session(
        f"scaling-bench-{master_cores}",
        f"local[{master_cores}]",
        {
            "spark.sql.shuffle.partitions": str(PARALLELISM),
            "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
            "spark.ui.enabled": "false",
            "spark.driver.memory": "24g",
        },
    )
    warm_out = tempfile.mkdtemp(prefix="scalewarm-")
    out = tempfile.mkdtemp(prefix="scalebench-")
    try:
        # warmup: JVM JIT + python worker pool spin-up (untimed)
        run_extract(
            spark,
            RunConfig(
                pages_path=warmup_path,
                out_dir=warm_out,
                run_id="warm",
                parallelism=master_cores * 2,
                resume=False,
            ),
        )
        cfg = RunConfig(
            pages_path=pages_path,
            out_dir=out,
            run_id="bench",
            parallelism=PARALLELISM,
            resume=False,
        )
        t0 = time.monotonic()
        res = run_extract(spark, cfg)
        wall = time.monotonic() - t0
        return wall, res["rows_out"]
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(warm_out, ignore_errors=True)
        spark.stop()


def _cpu_probe(seconds: float = 1.0) -> float:
    """Single-core busy-loop rate (M iters/sec) — host-speed index."""
    t0 = time.perf_counter()
    x = 0
    while time.perf_counter() - t0 < seconds:
        x += 1
    return x / seconds / 1e6


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=96000)
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    corpus = ensure_corpus(CACHE, args.pages)
    warmup = ensure_corpus(CACHE, 2000)
    print(f"corpus: {corpus}", file=sys.stderr)

    # Interleaved pairs: this box is a microVM with noisy host
    # neighbors (identical runs vary ±40-60% across minutes), so each
    # efficiency sample comes from an ADJACENT (N, 4N) pair — host
    # speed drift hits both sides of a pair roughly equally and
    # cancels in the ratio. Pair order alternates (N,4N / 4N,N) so a
    # monotone host-speed trend cannot bias all pairs the same way.
    # A single-core CPU probe is logged around each run as a host-speed
    # index (transparency only — walls are NOT normalized by it).
    walls: dict[int, list[float]] = {N_SMALL: [], N_BIG: []}
    probes: list[float] = []
    rows = 0
    pair_effs = []
    for r in range(args.runs):
        order = (N_SMALL, N_BIG) if r % 2 == 0 else (N_BIG, N_SMALL)
        pair_walls = {}
        for cores in order:
            probes.append(_cpu_probe())
            w, rows = one_run(cores, str(corpus), str(warmup))
            pair_walls[cores] = w
            walls[cores].append(w)
            print(
                f"pair {r + 1}: local[{cores}] {w:.2f}s "
                f"(probe {probes[-1]:.1f}M/s)",
                file=sys.stderr,
            )
        eff_r = (rows / pair_walls[N_BIG]) / (4 * (rows / pair_walls[N_SMALL]))
        pair_effs.append(eff_r)
        print(f"pair {r + 1}: eff {eff_r:.3f}", file=sys.stderr)

    results = {}
    for cores in (N_SMALL, N_BIG):
        med = statistics.median(walls[cores])
        results[cores] = {
            "walls": [round(w, 2) for w in walls[cores]],
            "median_wall": round(med, 2),
            "rows": rows,
            "pages_per_sec": round(rows / med, 1),
        }
    t_n = results[N_SMALL]["pages_per_sec"]
    t_4n = results[N_BIG]["pages_per_sec"]
    eff = statistics.median(pair_effs)

    md = f"""# BENCH — scaling protocol results (BASELINE.md §Protocol)

Same job (scan → salted url-hash repartition({PARALLELISM}) →
dedup-latest → mapInPandas extract → write parquet; ONE heavy exchange
end-to-end), same input ({args.pages} synthetic pages, seed=42,
deterministic), same machine. Median of {args.runs} runs; untimed
warmup run per session (steady-state throughput — JVM/worker-pool
spin-up excluded, matching the pages/sec north-star metric).

Core-count note: nproc=32 but 16 physical cores (SMT). Local mode
co-locates the JVM (scan/shuffle/Arrow/parquet threads) with the
Python workers, so for the scaling signal to reflect adding executors
(fresh physical cores per node on a real cluster) BOTH configs must
fit within the 16 physical cores INCLUDING JVM threads; /proc/stat
sampling shows the extract phase at local[16] occupying 55-72% of 32
logical CPUs (16 workers + JVM > 16 physical → SMT throttling).
Hence N={N_SMALL} vs 4N={N_BIG}.

Runs are interleaved in (N, 4N) pairs because this sandbox is a
microVM with noisy host neighbors (identical runs vary up to ±40%
across minutes); per-pair efficiency cancels host-speed drift, and the
reported figure is the median over pairs.

| config | walls (s) | median wall (s) | rows | pages/sec (median) |
|---|---|---|---|---|
| local[{N_SMALL}]  | {results[N_SMALL]['walls']} | {results[N_SMALL]['median_wall']} | {results[N_SMALL]['rows']} | {t_n} |
| local[{N_BIG}] | {results[N_BIG]['walls']} | {results[N_BIG]['median_wall']} | {results[N_BIG]['rows']} | {t_4n} |

Per-pair efficiency samples: {[round(e, 3) for e in pair_effs]}
Host-speed probe (M iters/s, 1 per run, chronological):
{[round(p, 1) for p in probes]}

**Scaling efficiency** (median of per-pair
tput_{N_BIG} / (4 × tput_{N_SMALL})) = **{eff:.3f}**
(acceptance ≥ 0.8 per BASELINE.json:2).
"""
    out_path = REPO / "BENCH" / "BASELINE.md"
    out_path.parent.mkdir(exist_ok=True)
    out_path.write_text(md, encoding="utf-8")
    print(md)


if __name__ == "__main__":
    main()
