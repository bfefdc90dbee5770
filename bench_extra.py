"""Out-of-band optimization harness (round 9) — NOT the driver bench.

bench.py is frozen for measurement; this file exists so the
optimization loop can (a) time individual registry queries with the
same session/config/methodology as bench.py, (b) dump
``.explain("formatted")`` plans into plans/r09/, and (c) isolate the
computation from the sink with the noop writer (guide §1.4) instead of
the bench's ``.count()`` when asked.

Usage:
  python bench_extra.py q_model_train q_ann_recall        # time those
  python bench_extra.py --all                             # whole list
  python bench_extra.py --plans before q_model_train      # dump plans
  SPARK_GRAFT_REPS=1 python bench_extra.py ...            # fewer reps
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

import readembedability_spark.textops  # noqa: E402,F401
from readembedability_spark.flagship import flagship_extract  # noqa: E402
from readembedability_spark.queries import REGISTRY, release_caches  # noqa: E402
from readembedability_spark.session import get_session  # noqa: E402

from bench import HEADLINE  # noqa: E402  (read-only import of the frozen list)


def _session():
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return get_session(
        "readembedability-spark-bench-extra",
        f"local[{cpus}]",
        {
            "spark.sql.shuffle.partitions": str(max(int(cpus), 8)),
            "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
            "spark.ui.enabled": "false",
            "spark.driver.memory": "16g",
        },
    )


def main() -> None:
    args = [a for a in sys.argv[1:]]
    plans_tag = None
    if "--plans" in args:
        i = args.index("--plans")
        plans_tag = args[i + 1]
        del args[i : i + 2]
    noop = "--noop" in args
    if noop:
        args.remove("--noop")
    if "--all" in args:
        names = ["q_extract_flagship", "q_extract_archetypes", *HEADLINE]
    else:
        names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_REPS", "3")))
    spark = _session()

    # untimed warmup (same as bench.py)
    flagship_extract(spark, f"{Path(sf_dir).parent}/sf0.001").count()
    release_caches(spark)

    timings: dict[str, float] = {}
    for name in names:
        if name == "q_extract_flagship":
            build = lambda: flagship_extract(spark, sf_dir)  # noqa: E731
        else:
            qd = REGISTRY[name]
            build = lambda qd=qd: qd.spark(spark, sf_dir)  # noqa: E731
        if plans_tag:
            df = build()
            out = Path(REPO / "plans" / "r09" / f"{name}_{plans_tag}.txt")
            out.parent.mkdir(parents=True, exist_ok=True)
            out.write_text(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            ))
            release_caches(spark)
            gc.collect()
            continue
        samples = []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(name)
            t0 = time.monotonic()
            if noop:
                build().write.format("noop").mode("overwrite").save()
            else:
                build().count()
            samples.append(time.monotonic() - t0)
            spark.sparkContext.setJobDescription(None)
            release_caches(spark)
            gc.collect()
        samples.sort()
        timings[name] = round(samples[len(samples) // 2], 3)
        print(f"{timings[name]:8.3f}  {name}  {[round(s,3) for s in samples]}",
              flush=True)
    if timings:
        print(json.dumps({"total": round(sum(timings.values()), 3),
                          "queries": timings}))
    spark.stop()


if __name__ == "__main__":
    main()
